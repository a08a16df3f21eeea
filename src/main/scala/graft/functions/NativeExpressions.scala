package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ColumnConversions
import org.apache.spark.sql.graft.ExpressionColumns
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native (codegen'd) dot product over two `array<double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,_*_),...)`)
  * is interpreted per element with boxing — fine for per-row feature columns,
  * ~30 µs/pair in the all-pairs similarity joins where it dominates the whole
  * bench. This expression compiles to a primitive `double[]` loop inside
  * whole-stage codegen. Accumulation order is the same sequential i=0..n-1
  * fold, so results are bit-identical to the HOF version (and to the DuckDB
  * oracle's `list_cosine_similarity` numerator).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers pass array<double> (VectorFunctions.toDouble upstream); no
  // implicit-cast mixin because AbstractDataType is private[sql].
  override def dataType: DataType = DoubleType
  require(Seq(left, right).forall(e => !e.resolved ||
    e.dataType == ArrayType(DoubleType) || e.dataType == ArrayType(DoubleType, false)),
    "dot requires array<double> inputs")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = Math.min($x.length, $y.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $s += $x[$i] * $y[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Intersection cardinality of two SORTED long arrays via a single merge
  * scan — the verification kernel for MinHash-LSH candidates (|union| is then
  * |a|+|b|-i, no array_union materialization). Codegen'd: candidate joins
  * evaluate this per pair.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    val y = b.asInstanceOf[ArrayData].toLongArray()
    var i = 0; var j = 0; var n = 0L
    while (i < x.length && j < y.length) {
      if (x(i) < y(j)) i += 1
      else if (x(i) > y(j)) j += 1
      else { n += 1L; i += 1; j += 1 }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      s"""
         |long[] $x = $a.toLongArray();
         |long[] $y = $b.toLongArray();
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $x.length && $j < $y.length) {
         |  if ($x[$i] < $y[$j]) $i++;
         |  else if ($x[$i] > $y[$j]) $j++;
         |  else { $n++; $i++; $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Early-exit containment/overlap qualifier over two SORTED long arrays:
  * TRUE iff |a ∩ b| · den ≥ min(|a|,|b|) · num — exactly the verify
  * predicate of the containment family (i · den ≥ min · num for positive
  * integers ⟺ i ≥ ⌈min·num/den⌉). A filter spelled over
  * [[SortedIntersectCount]] gets pushed by Catalyst into the candidate
  * join's condition WHILE the projection keeps its own copy, so every
  * banded candidate (5.5M at sf0.1) paid TWO full merge scans plus four
  * ArrayData→long[] copies. This kernel indexes the ArrayData directly
  * (zero copies) and stops as soon as the outcome is decided in either
  * direction: success once the running count reaches the threshold,
  * failure once count + min(remaining_a, remaining_b) falls below it.
  * Consumers filter on this FIRST and compute the exact count only on
  * the qualifying survivors.
  */
case class SortedIntersectQualifies(left: Expression, right: Expression,
    ratio: Expression) extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = ratio

  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = c.asInstanceOf[Long]
    val num = (r >> 32).toInt; val den = (r & 0xffffffffL).toInt
    val la = x.numElements(); val lb = y.numElements()
    val m = math.min(la, lb).toLong
    val thr = (m * num + den - 1) / den
    if (thr <= 0L) return true
    var i = 0; var j = 0; var n = 0L
    while (i < la && j < lb) {
      if (n + math.min(la - i, lb - j) < thr) return false
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { n += 1L; if (n >= thr) return true; i += 1; j += 1 }
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val thr = ctx.freshName("thr"); val num = ctx.freshName("num")
      val den = ctx.freshName("den")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $la = $a.numElements(); int $lb = $b.numElements();
         |int $num = (int) ($c >> 32); int $den = (int) ($c & 0xffffffffL);
         |long $thr = (java.lang.Math.min($la, $lb) * (long) $num + $den - 1) / $den;
         |${ev.value} = ($thr <= 0L);
         |int $i = 0; int $j = 0; long $n = 0L;
         |while (!${ev.value} && $i < $la && $j < $lb) {
         |  if ($n + java.lang.Math.min($la - $i, $lb - $j) < $thr) break;
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv < $yv) $i++;
         |  else if ($xv > $yv) $j++;
         |  else { $n++; if ($n >= $thr) ${ev.value} = true; $i++; $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedIntersectQualifies =
    copy(left = newFirst, right = newSecond, ratio = newThird)
}

/** 1-based index of the FIRST position (capped at `limit`) where two long
  * arrays hold equal values; 0 when none do. The exactly-once emission
  * kernel for banded candidate joins: a pair colliding in several bands is
  * kept only where its band index equals this value, so no dedup exchange
  * ever sees the collision redundancy. Codegen'd — the HOF spelling
  * (zip_with + array_position) interprets its lambda per element with
  * boxing, and candidate joins evaluate this on every enumerated row.
  */
case class FirstEqualIndex(left: Expression, right: Expression,
    limit: Expression) extends TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = limit

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lim = math.min(math.min(x.numElements(), y.numElements()),
      c.asInstanceOf[Int])
    var i = 0
    while (i < lim) {
      if (x.getLong(i) == y.getLong(i)) return (i + 1).toLong
      i += 1
    }
    0L
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val i = ctx.freshName("i"); val lim = ctx.freshName("lim")
      s"""
         |int $lim = java.lang.Math.min(
         |  java.lang.Math.min($a.numElements(), $b.numElements()), $c);
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $lim; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) { ${ev.value} = $i + 1; break; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FirstEqualIndex =
    copy(left = newFirst, right = newSecond, limit = newThird)
}

/** PQ encode: 16 4-bit codes for a 64-dim quantized vector against a flat
  * codebook literal (1024 doubles, laid out [sub][cid][pos] =
  * sub·64 + cid·4 + pos). Per subvector: argmin over the 16 centroids of
  * the exact integer squared-L2, strict `<` so the smallest cid wins ties
  * — the same rule as the driver-side trainer and the oracle's
  * (d asc, cid asc) ranking, so codes are bit-identical to the relational
  * encode this kernel replaced (the 205M-row join+aggregate+window shape
  * cost more than the whole rest of the PQ search at the 100× probe).
  */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q8 = a.asInstanceOf[ArrayData].toDoubleArray()
    val cb = b.asInstanceOf[ArrayData].toDoubleArray()
    val m = 16; val k = 16; val dsub = q8.length / m
    val out = new Array[Long](m)
    var sub = 0
    while (sub < m) {
      var best = 0; var bestD = Double.MaxValue
      var cid = 0
      while (cid < k) {
        var d = 0.0; var p = 0
        while (p < dsub) {
          val t = q8(sub * dsub + p) - cb(sub * (k * dsub) + cid * dsub + p)
          d += t * t; p += 1
        }
        if (d < bestD) { bestD = d; best = cid }
        cid += 1
      }
      out(sub) = best.toLong
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** Per-query ADC lookup table: 256 doubles [sub][cid] = sub·16 + cid, each
  * the exact integer squared-L2 between the query's subvector and that
  * centroid. One row per QUERY (the fixed budget), so interpretation cost
  * is irrelevant; the table rides a broadcast into [[AdcDistance]].
  */
case class PqQueryTable(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q8 = a.asInstanceOf[ArrayData].toDoubleArray()
    val cb = b.asInstanceOf[ArrayData].toDoubleArray()
    val m = 16; val k = 16; val dsub = q8.length / m
    val out = new Array[Double](m * k)
    var sub = 0
    while (sub < m) {
      var cid = 0
      while (cid < k) {
        var d = 0.0; var p = 0
        while (p < dsub) {
          val t = q8(sub * dsub + p) - cb(sub * (k * dsub) + cid * dsub + p)
          d += t * t; p += 1
        }
        out(sub * k + cid) = d
        cid += 1
      }
      sub += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqQueryTable =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance lookup: Σ_sub qtab[sub·16 + code[sub]] — the ADC
  * hot loop, evaluated once per (vector, query) pair. Codegen'd: the scan
  * is corpus × queries rows, and every distance term is an exact integer
  * in doubles, so this 16-add fold is bit-equal to the relational
  * per-(sub,cid) join + SUM it replaced at a tiny fraction of the cost.
  */
case class AdcDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val code = a.asInstanceOf[ArrayData]
    val qtab = b.asInstanceOf[ArrayData]
    var s = 0.0
    var sub = 0
    val m = code.numElements()
    while (sub < m) {
      s += qtab.getDouble(sub * 16 + code.getLong(sub).toInt)
      sub += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      s"""
         |int $m = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  $s += $b.getDouble($i * 16 + (int) $a.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}

/** Σ popcount(a[i] XOR b[i]) over two equal-length long arrays — the
  * Hamming distance between two packed sign-bit signatures. The cheap
  * prefilter between band-collision candidates and the full-vector cosine
  * verify: candidates already carry both signature arrays for the
  * first-agreeing-band filter, so this costs no extra data movement and
  * drops the ~95% of bucket collisions that random geometry produces
  * before any vector is shuffled. Codegen'd — evaluated per candidate row.
  */
case class XorPopcount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $c += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): XorPopcount =
    copy(left = newLeft, right = newRight)
}

/** Build a fixed-width bitmask (`words` longs) from an `array<long>` of bit
  * indices — the set-as-bitset encoding for vocabulary-bounded Jaccard.
  */
case class MaskFromIndices(child: Expression, words: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val idx = a.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](words)
    var i = 0
    while (i < idx.length) {
      val b = idx(i).toInt
      out(b >> 6) |= (1L << (b & 63))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MaskFromIndices =
    copy(child = newChild)
}

/** popcount(a & b) over two equal-width long-array bitmasks — the
  * intersection-cardinality kernel for the bitset Jaccard path. Codegen'd:
  * the set-pair join evaluates this O(S^2) times.
  */
case class BitmaskIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toLongArray()
    val y = b.asInstanceOf[ArrayData].toLongArray()
    val n = math.min(x.length, y.length)
    var i = 0; var c = 0L
    while (i < n) { c += java.lang.Long.bitCount(x(i) & y(i)); i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |long[] $x = $a.toLongArray();
         |long[] $y = $b.toLongArray();
         |int $n = Math.min($x.length, $y.length);
         |long $c = 0L;
         |for (int $i = 0; $i < $n; $i++) { $c += java.lang.Long.bitCount($x[$i] & $y[$i]); }
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmaskIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Distinct adjacent-token bigrams ("w1 w2") in first-occurrence order —
  * one primitive pass per document. Replaces the interpreted HOF chain
  * `transform(sequence(1, n-1), i -> concat_ws(" ", slice(toks, i, 2)))` +
  * `array_distinct`: higher-order functions evaluate their lambda through
  * the interpreter per ELEMENT (~µs each, with a slice allocation per
  * bigram), which made tokenization the dominant stage of
  * x2_jaccard_bigram. Bit-identical output order (first occurrence), so the
  * downstream set semantics are unchanged (NativeKernelsSpec cross-checks).
  */
case class BigramSet(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[UTF8String](2 * n)
      val space = UTF8String.fromString(" ")
      var i = 0
      while (i < n - 1) {
        seen.add(UTF8String.concat(arr.getUTF8String(i), space,
          arr.getUTF8String(i + 1)))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BigramSet =
    copy(child = newChild)
}

/** Distinct k-word shingle STRINGS of a token array, first-occurrence
  * order — the one-pass replacement for the interpreted
  * transform(sequence)+concat_ws+array_distinct chain wherever the shingle
  * STRING itself is the join/aggregation key (boilerplate detection,
  * decontamination — their DuckDB oracles group by the same strings, so a
  * hashed shingle identity is not an option there). A doc with fewer than
  * k tokens yields its whole token list as one shingle (TextFunctions
  * .shingles fallback; NativeKernelsSpec pins bit-equality with the HOF
  * formulation).
  */
case class ShingleStrings(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nShingles = math.max(n - (k - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](2 * nShingles)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < nShingles) {
      val end = math.min(i + k, n)
      var s = arr.getUTF8String(i)
      var j = i + 1
      while (j < end) { s = UTF8String.concat(s, space, arr.getUTF8String(j)); j += 1 }
      seen.add(s)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** Hashed k-word shingles of a token array: each adjacent k-window is
  * hashed (per-token FNV-1a 64 folded with a golden-ratio multiply, then a
  * splitmix64 finalizer), deduplicated, and returned SORTED — the exact
  * input shape `minhash` and `isect` consume. One primitive
  * pass per document; replaces THREE interpreted HOF traversals
  * (transform+slice+concat_ws, array_distinct, transform+xxhash64) that
  * dominated the MinHash-LSH pipeline. A doc with fewer than k tokens
  * yields its whole token list as one shingle (same fallback as
  * TextFunctions.shingles). Hash values differ from the xxhash64-of-string
  * formulation — immaterial: every consumer treats them as opaque shingle
  * identities (no oracle depends on them), and collision odds are the same
  * ~n²/2⁶⁵ already accepted for hashed shingles.
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def fnv1a(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }

  private def finalizeMix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nShingles = math.max(n - (k - 1), 1)
    val out = new Array[Long](nShingles)
    var i = 0
    while (i < nShingles) {
      var h = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        h = h * 0x9E3779B97F4A7C15L + fnv1a(arr.getUTF8String(j))
        j += 1
      }
      out(i) = finalizeMix(h)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted hashes (distinct-shingle semantics)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** LSH band keys from a MinHash signature: the signature is cut into
  * `bands` equal slices; key b folds slice b's values with the band index
  * mixed in, splitmix64-finalized — one long per band, band identity inside
  * the key, so the bucket join is a single-long equi join (no struct, no
  * string concat). Replaces `bands` interpreted slice+concat+xxhash64
  * evaluations per document.
  */
case class BandKeys64(child: Expression, bands: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val sig = a.asInstanceOf[ArrayData].toLongArray()
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b * 0xBF58476D1CE4E5B9L
      var j = b * rows
      val end = j + rows
      while (j < end) { h = h * 0x9E3779B97F4A7C15L + sig(j); j += 1 }
      var z = h + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      out(b) = z ^ (z >>> 31)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeys64 =
    copy(child = newChild)
}

/** MinHash signature over a hashed-shingle `array<long>`: for family k, the
  * minimum over elements of splitmix64(x + k*GOLDEN_GAMMA) (Steele et al.'s
  * public-domain finalizer — full avalanche, 5 ALU ops). One pass per family,
  * all primitive; replaces 32 interpreted transform+xxhash64 array traversals
  * per document.
  */
case class MinHashSignature64(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) {
      val seed = (k + 1) * 0x9E3779B97F4A7C15L
      var mn = Long.MaxValue
      var i = 0
      while (i < xs.length) {
        var z = xs(i) + seed
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        if (z < mn) mn = z
        i += 1
      }
      out(k) = mn
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature64 =
    copy(child = newChild)
}

/** 64-bit SimHash over an `array<long>` of (distinct) token hashes: bit b of
  * the signature is set iff strictly more inputs have bit b set than clear.
  * One primitive pass per document — replaces the (doc, token, bit) explode
  * formulation, whose 64× row inflation through the vote-count shuffle was
  * the dominant cost (the explode shape shuffles tokens×64 rows per doc; this
  * shuffles nothing beyond the tokenize).
  *
  * Bit-for-bit identical to the explode+sum(vote) formulation: vote sum
  * `ones - zeros > 0` ⟺ `2*ones > n` (NativeKernelsSpec cross-checks).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val ones = new Array[Int](64)
    var i = 0
    while (i < xs.length) {
      val x = xs(i)
      var b = 0
      while (b < 64) {
        ones(b) += ((x >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * ones(b) > xs.length) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Shared arithmetic for the PORTABLE hash kernels: pure mod-prime integer
  * folds any engine can replay in plain SQL (the same portability contract as
  * TextFunctions.docFingerprintPortable — fingerprints/signatures published to
  * a dataset catalog must be recomputable by whatever engine reads them
  * later). Every intermediate stays below 2^63 so ANSI mode never overflows
  * and a DuckDB BIGINT twin computes bit-identical values:
  *   word:    h1 = fold (a*31  + codepoint) mod 1e9+7   (< 2^30)
  *            h2 = fold (a*131 + codepoint) mod 2^31-1  (< 2^31)
  *            hw = h1 * 2^31 + h2                        (< 2^61)
  *   shingle: s1 = fold (a*1000003 + hw) mod 1e9+7, s2 likewise mod 2^31-1
  *            hs = s1 * 2^31 + s2
  *   minhash family k: min over shingles of (a_k*(hs mod p) + b_k) mod p,
  *            p = 2^31-1, a_k = (506952114*(k+1)+1) mod p (506952114 =
  *            Knuth's 2654435761 mod p), b_k = (40503*(k+1)+17) mod p.
  */
private object PortableHash {
  val P31 = 2147483647L  // 2^31 - 1
  val P30 = 1000000007L

  def wordHash(s: UTF8String): Long = {
    val str = s.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31L + cp) % P30
      h2 = (h2 * 131L + cp) % P31
      i += Character.charCount(cp)
    }
    h1 * 2147483648L + h2
  }

  /** Sorted distinct portable k-shingle hashes of a token array (same
    * <k-token whole-doc fallback as ShingleHashes).
    */
  def shingleHashes(arr: ArrayData, k: Int): GenericArrayData = {
    val n = arr.numElements()
    val hws = new Array[Long](n)
    var i = 0
    while (i < n) { hws(i) = wordHash(arr.getUTF8String(i)); i += 1 }
    val nShingles = math.max(n - (k - 1), 1)
    val out = new Array[Long](nShingles)
    i = 0
    while (i < nShingles) {
      var s1 = 0L
      var s2 = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        s1 = (s1 * 1000003L + hws(j)) % P30
        s2 = (s2 * 1000033L + hws(j)) % P31
        j += 1
      }
      out(i) = s1 * 2147483648L + s2
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Positional k-token span hashes: same fold as `shingleHashes` but
    * order-preserving and WITHOUT the sort/dedup — one value per start
    * position, so downstream `posexplode` keeps (position -> span) intact.
    */
  def spanHashes(arr: ArrayData, k: Int): GenericArrayData = {
    val n = arr.numElements()
    val hws = new Array[Long](n)
    var i = 0
    while (i < n) { hws(i) = wordHash(arr.getUTF8String(i)); i += 1 }
    val nSpans = math.max(n - (k - 1), 1)
    val out = new Array[Long](nSpans)
    i = 0
    while (i < nSpans) {
      var s1 = 0L
      var s2 = 0L
      var j = i
      val end = math.min(i + k, n)
      while (j < end) {
        s1 = (s1 * 1000003L + hws(j)) % P30
        s2 = (s2 * 1000033L + hws(j)) % P31
        j += 1
      }
      out(i) = s1 * 2147483648L + s2
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Portable 61-bit word hashes, one per token, order-preserving — the
  * SQL-replayable counterpart of `transform(toks, xxhash64)` feeding
  * SimHash64 (bits 61..63 are always 0, so the majority vote over them is
  * always false and the signature stays inside the oracle's 62-bit sum).
  */
case class PortableWordHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = PortableHash.wordHash(arr.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableWordHashes =
    copy(child = newChild)
}

/** Portable POSITIONAL k-token span hashes — one hash per start position,
  * order-preserving, duplicates kept (unlike PortableShingleHashes, which
  * sorts + dedups into a set signature). `posexplode` over this column
  * gives (position, span-identity) rows, the unit of substring-level
  * duplicate detection: a span hash seen at two positions anywhere in the
  * corpus is a repeated k-token substring. Same dual mod-prime fold as
  * PortableShingleHashes, so the DuckDB oracle replays every value
  * bit-for-bit; same <k-token whole-doc fallback (one span).
  */
case class PortableSpanHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PortableHash.spanHashes(a.asInstanceOf[ArrayData], k)

  override protected def withNewChildInternal(newChild: Expression): PortableSpanHashes =
    copy(child = newChild)
}

/** Portable sorted distinct k-shingle hashes — drop-in for ShingleHashes
  * where the downstream signature must be oracle-replayable.
  */
case class PortableShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    PortableHash.shingleHashes(a.asInstanceOf[ArrayData], k)

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHashes =
    copy(child = newChild)
}

/** Portable MinHash signature over portable shingle hashes: affine families
  * mod 2^31-1 instead of splitmix64 — one compiled pass per family, same
  * cost shape as MinHashSignature64, but SQL-replayable.
  */
case class PortableMinHash(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  import PortableHash.P31

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](numHashes)
    var k = 0
    while (k < numHashes) {
      val ak = (506952114L * (k + 1) + 1) % P31
      val bk = (40503L * (k + 1) + 17) % P31
      var mn = Long.MaxValue
      var i = 0
      while (i < xs.length) {
        val m = (ak * (xs(i) % P31) + bk) % P31
        if (m < mn) mn = m
        i += 1
      }
      out(k) = mn
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableMinHash =
    copy(child = newChild)
}

/** Portable random-hyperplane LSH band keys over an embedding column: the
  * sign-random-projection family (Charikar, STOC'02) with DETERMINISTIC
  * pseudo-random hyperplanes, banded for bucket joins.
  *
  * For global bit j (= band*bitsPerBand + i) and dimension d, with
  * t = j*4096 + d (requires dim < 4096), the hyperplane component is the
  * Rademacher sign
  *   s(j,d) = +1 if ((1000003*t*t + 7919*t + 17) mod (2^31-1)) mod 2 == 0
  *            else -1
  * — a QUADRATIC congruential parity. An affine form's low bit would
  * alternate deterministically with d (odd step ⇒ period-2 parity), making
  * every hyperplane the same ± alternating pattern (measured: 0.97 mean
  * |inter-hyperplane correlation|, candidate sets half the corpus); the
  * quadratic's step varies with t, giving ~0.07 mean |correlation| — 64
  * genuinely distinct hyperplanes. t ≤ 2^18 keeps 1000003·t² < 2^57, exact
  * in int64 and in a SQL BIGINT.
  * bit_j = [ Σ_d s(j,d) * floor(v_d * 10^6) >= 0 ]. Components are
  * QUANTIZED to integers (floor of the double value scaled by 10^6) so the
  * projection is exact 64-bit integer arithmetic — no float-summation-order
  * hazard — and a SQL oracle (DuckDB BIGINT) replays every bit identically.
  * Output: one value per band, Σ_i bit_{band*bpb+i} << i.
  *
  * Accepts array<float> (the raw embedding column) or array<double>.
  */
case class HyperplaneBandKeys(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  import PortableHash.P31

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // lazy: a kernel built from a Column holds an unresolved child until
  // analysis, and an unresolved child has no dataType
  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      q(d) = math.floor(x * 1e6).toLong
      d += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bv = 0L
      var i = 0
      while (i < bitsPerBand) {
        val j = b * bitsPerBand + i
        var acc = 0L
        d = 0
        while (d < n) {
          val t = j * 4096L + d
          val h = ((1000003L * t * t + 7919L * t + 17L) % P31) % 2L
          acc += (if (h == 0L) q(d) else -q(d))
          d += 1
        }
        if (acc >= 0L) bv |= (1L << i)
        i += 1
      }
      out(b) = bv
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandKeys =
    copy(child = newChild)
}

/** ALL consecutive token bigrams as space-joined strings, one compiled
  * pass — NOT distinct (unlike ShingleStrings): the bigram LM needs every
  * position. The interpreted HOF formulation
  * (`transform(sequence(...), i -> struct(element_at, element_at))`)
  * measured 3.5 s of x4_lm_score_bigram's 3.5 s at sf0.1 — per-position
  * lambda evaluation with struct boxing; this kernel is one array walk.
  * The space join is injective (tokens are space-split so contain none),
  * so "prev cur" strings ARE the pair identity for counting and joining.
  */
case class BigramStringsAll(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n - 1)
      var prev = arr.getUTF8String(0)
      var i = 0
      while (i < n - 1) {
        val cur = arr.getUTF8String(i + 1)
        out(i) = UTF8String.concatWs(sep, prev, cur)
        prev = cur
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BigramStringsAll =
    copy(child = newChild)
}

/** Query-side MULTIPROBE keys for [[HyperplaneBandKeys]]: per band, the
  * primary band value plus `flips` probe values, each with one of the
  * band's weakest bits flipped (smallest |projection| — the bits most
  * likely to disagree with a true near neighbor; Lv et al., VLDB'07).
  * Keys are composite (band << bitsPerBand) | value so one explode+equi-join
  * covers all probes. Bits are ranked by (|acc|, bit index) — fully
  * deterministic. flips=0 reproduces the primary keys exactly, so a corpus
  * indexed with HyperplaneBandKeys joins against any flips level.
  */
case class HyperplaneProbeKeys(child: Expression, bands: Int, bitsPerBand: Int,
    flips: Int) extends UnaryExpression with CodegenFallback {
  import PortableHash.P31
  require(flips <= bitsPerBand, "cannot flip more bits than a band holds")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      q(d) = math.floor(x * 1e6).toLong
      d += 1
    }
    val out = new Array[Long](bands * (1 + flips))
    var o = 0
    var b = 0
    while (b < bands) {
      var bv = 0L
      val mag = new Array[Long](bitsPerBand)
      var i = 0
      while (i < bitsPerBand) {
        val j = b * bitsPerBand + i
        var acc = 0L
        d = 0
        while (d < n) {
          val t = j * 4096L + d
          val h = ((1000003L * t * t + 7919L * t + 17L) % P31) % 2L
          acc += (if (h == 0L) q(d) else -q(d))
          d += 1
        }
        if (acc >= 0L) bv |= (1L << i)
        mag(i) = math.abs(acc)
        i += 1
      }
      val base = b.toLong << bitsPerBand
      out(o) = base | bv
      o += 1
      // probe keys: flip the weakest bits one at a time
      val order = (0 until bitsPerBand).sortBy(i => (mag(i), i))
      var f = 0
      while (f < flips) {
        out(o) = base | (bv ^ (1L << order(f)))
        o += 1
        f += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbeKeys =
    copy(child = newChild)
}

/** One key's bounded candidate list: at most `k` (id, score) entries in
  * primitive arrays, kept as a heap whose root is the WORST entry, so an
  * offer that cannot enter costs one comparison. `flags` marks nulls
  * (bit 0: score, bit 1: id).
  */
final class TopKHeap(k: Int) {
  val ids = new Array[Long](k)
  val scores = new Array[Double](k)
  val flags = new Array[Byte](k)
  var n = 0

  // < 0 when (s1, f1, id1) ranks before (s2, f2, id2): score descending in
  // Spark's double order (NaN largest, -0.0 = 0.0) with nulls last, then id
  // ascending with nulls first — exactly `desc(score), asc(id)`
  private def cmp(s1: Double, id1: Long, f1: Int, s2: Double, id2: Long, f2: Int): Int = {
    val n1 = f1 & 1; val n2 = f2 & 1
    val bys =
      if (n1 != 0 || n2 != 0) n1 - n2
      else SQLOrderingUtil.compareDoubles(s2, s1)
    if (bys != 0) bys
    else {
      val m1 = f1 & 2; val m2 = f2 & 2
      if (m1 != 0 || m2 != 0) m2 - m1
      else java.lang.Long.compare(id1, id2)
    }
  }
  private def cmpAt(i: Int, j: Int): Int =
    cmp(scores(i), ids(i), flags(i), scores(j), ids(j), flags(j))
  private def swap(i: Int, j: Int): Unit = {
    val id = ids(i); ids(i) = ids(j); ids(j) = id
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val f = flags(i); flags(i) = flags(j); flags(j) = f
  }
  private def siftDown(from: Int, size: Int): Unit = {
    var i = from
    var done = false
    while (!done) {
      val l = 2 * i + 1
      if (l >= size) done = true
      else {
        val c = if (l + 1 < size && cmpAt(l + 1, l) > 0) l + 1 else l
        if (cmpAt(c, i) > 0) { swap(c, i); i = c } else done = true
      }
    }
  }

  def offer(id: Long, s: Double, f: Int): Unit =
    if (n < k) {
      ids(n) = id; scores(n) = s; flags(n) = f.toByte
      var i = n
      n += 1
      while (i > 0 && cmpAt(i, (i - 1) / 2) > 0) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (k > 0 && cmp(s, id, f, scores(0), ids(0), flags(0)) < 0) {
      ids(0) = id; scores(0) = s; flags(0) = f.toByte
      siftDown(0, n)
    }

  /** A copy of the entries in rank order (heap-sort: worst moves last). */
  def ranked(): TopKHeap = {
    val r = new TopKHeap(n)
    System.arraycopy(ids, 0, r.ids, 0, n)
    System.arraycopy(scores, 0, r.scores, 0, n)
    System.arraycopy(flags, 0, r.flags, 0, n)
    r.n = n
    var end = n - 1
    while (end > 0) { r.swap(0, end); r.siftDown(0, end); end -= 1 }
    r
  }
}

/** The per-key buffer of [[TopKPerKey]]: one [[TopKHeap]] per key. */
final class TopKState(val k: Int) {
  val heaps = new scala.collection.mutable.LongMap[TopKHeap]()
  var nullKey: TopKHeap = null

  def heap(key: Long, keyNull: Boolean): TopKHeap =
    if (keyNull) {
      if (nullKey == null) nullKey = new TopKHeap(k)
      nullKey
    } else {
      var h = heaps.getOrNull(key)
      if (h == null) { h = new TopKHeap(k); heaps.update(key, h) }
      h
    }
}

/** Bounded per-key top-k as ONE aggregate: each key keeps its best `k`
  * rows by (score desc, id asc) — the order, NaN/-0.0/null handling and
  * therefore the ranks of `row_number() OVER (PARTITION BY key ORDER BY
  * score DESC, id ASC)` — and the result is `array<struct<key, rk, id,
  * score>>` with `rk` 1-based. The state is O(k) per key in primitive
  * arrays, the partial aggregate runs per partition and one merge combines
  * them, so a q-query top-k shuffles at most q·k rows per map task instead
  * of every candidate through a window sort. Ungrouped, one row carries
  * every key's list; grouped by the key, each group's row carries its own.
  */
case class TopKPerKey(key: Expression, id: Expression, score: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKState] {
  require(k >= 0, "topK needs k >= 0")

  override def children: Seq[Expression] = Seq(key, id, score)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKPerKey.resultType
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): TopKState = new TopKState(k)

  override def update(buf: TopKState, input: InternalRow): TopKState = {
    val kv = key.eval(input)
    val iv = id.eval(input)
    val sv = score.eval(input)
    val f = (if (sv == null) 1 else 0) | (if (iv == null) 2 else 0)
    buf.heap(if (kv == null) 0L else kv.asInstanceOf[Long], kv == null).offer(
      if (iv == null) 0L else iv.asInstanceOf[Long],
      if (sv == null) 0.0 else sv.asInstanceOf[Double], f)
    buf
  }

  override def merge(buf: TopKState, other: TopKState): TopKState = {
    def into(h: TopKHeap, o: TopKHeap): Unit = {
      var i = 0
      while (i < o.n) { h.offer(o.ids(i), o.scores(i), o.flags(i)); i += 1 }
    }
    other.heaps.foreachEntry((key, o) => into(buf.heap(key, keyNull = false), o))
    if (other.nullKey != null) into(buf.heap(0L, keyNull = true), other.nullKey)
    buf
  }

  override def eval(buf: TopKState): Any = {
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    def emit(key: Any, heap: TopKHeap): Unit = {
      val h = heap.ranked()
      var i = 0
      while (i < h.n) {
        out += InternalRow(key, (i + 1).toLong,
          if ((h.flags(i) & 2) != 0) null else h.ids(i),
          if ((h.flags(i) & 1) != 0) null else h.scores(i))
        i += 1
      }
    }
    if (buf.nullKey != null) emit(null, buf.nullKey)
    buf.heaps.keys.toArray.sorted.foreach(key => emit(key, buf.heaps(key)))
    new GenericArrayData(out.toArray[Any])
  }

  // wire format: per heap (keyNull, key, n, n × (flags, id, score))
  override def serialize(buf: TopKState): Array[Byte] = {
    val heaps = buf.heaps.toSeq.map { case (key, h) => (false, key, h) } ++
      Option(buf.nullKey).map(h => (true, 0L, h))
    val bb = java.nio.ByteBuffer.allocate(
      4 + heaps.map { case (_, _, h) => 13 + 17 * h.n }.sum)
    bb.putInt(heaps.size)
    heaps.foreach { case (keyNull, key, h) =>
      bb.put((if (keyNull) 1 else 0).toByte).putLong(key).putInt(h.n)
      var i = 0
      while (i < h.n) { bb.put(h.flags(i)).putLong(h.ids(i)).putDouble(h.scores(i)); i += 1 }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val buf = new TopKState(k)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var heaps = bb.getInt()
    while (heaps > 0) {
      val keyNull = bb.get() != 0
      val h = buf.heap(bb.getLong(), keyNull)
      var n = bb.getInt()
      while (n > 0) { val f = bb.get(); h.offer(bb.getLong(), bb.getDouble(), f); n -= 1 }
      heaps -= 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKPerKey =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPerKey =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKPerKey =
    copy(key = c(0), id = c(1), score = c(2))
}

object TopKPerKey {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType), StructField("rk", LongType, nullable = false),
    StructField("id", LongType), StructField("score", DoubleType))),
    containsNull = false)
}

/** Typed Column constructors for the native kernels above — one per
  * kernel, each building its Catalyst expression directly, so a kernel
  * resolves in any session without a function registry. Arguments that
  * size a kernel (hash families, bands, widths) are Scala `Int`s: the
  * compiler checks them, and they stay plan constants, not columns.
  */
object NativeExpressions {
  private def e(c: Column): Expression = ColumnConversions.expression(c)
  private def c(x: Expression): Column = ExpressionColumns(x)

  def dot(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))
  def isect(a: Column, b: Column): Column = c(SortedIntersectCount(e(a), e(b)))
  /** |a ∩ b| · den ≥ min(|a|,|b|) · num; num/den pack into one literal so
    * the kernel stays ternary. */
  def isectGeq(a: Column, b: Column, num: Int, den: Int): Column =
    c(SortedIntersectQualifies(e(a), e(b),
      Literal((num.toLong << 32) | den.toLong)))
  /** `limit` is an int column: banded joins pass a per-row band budget. */
  def firstEq(a: Column, b: Column, limit: Column): Column =
    c(FirstEqualIndex(e(a), e(b), e(limit)))
  def xorPopcount(a: Column, b: Column): Column = c(XorPopcount(e(a), e(b)))
  def pqEncode(q8: Column, codebook: Column): Column =
    c(PqEncode(e(q8), e(codebook)))
  def pqQueryTable(q8: Column, codebook: Column): Column =
    c(PqQueryTable(e(q8), e(codebook)))
  def adc(code: Column, qtab: Column): Column = c(AdcDistance(e(code), e(qtab)))
  def minhash(set: Column, numHashes: Int): Column =
    c(MinHashSignature64(e(set), numHashes))
  def mask(indices: Column, words: Int): Column =
    c(MaskFromIndices(e(indices), words))
  def maskIsect(a: Column, b: Column): Column =
    c(BitmaskIntersectCount(e(a), e(b)))
  def simhash(hashes: Column): Column = c(SimHash64(e(hashes)))
  def bigrams(tokens: Column): Column = c(BigramSet(e(tokens)))
  def shingles(tokens: Column, k: Int): Column = c(ShingleHashes(e(tokens), k))
  def shingleStrings(tokens: Column, k: Int): Column =
    c(ShingleStrings(e(tokens), k))
  def bands(signature: Column, bands: Int): Column =
    c(BandKeys64(e(signature), bands))
  def wordHash62(tokens: Column): Column = c(PortableWordHashes(e(tokens)))
  def shinglesPortable(tokens: Column, k: Int): Column =
    c(PortableShingleHashes(e(tokens), k))
  def spanHashes(tokens: Column, k: Int): Column =
    c(PortableSpanHashes(e(tokens), k))
  def minhashPortable(set: Column, numHashes: Int): Column =
    c(PortableMinHash(e(set), numHashes))
  def hyperplaneBands(v: Column, bands: Int, bitsPerBand: Int): Column =
    c(HyperplaneBandKeys(e(v), bands, bitsPerBand))
  def hyperplaneProbes(v: Column, bands: Int, bitsPerBand: Int,
      flips: Int): Column =
    c(HyperplaneProbeKeys(e(v), bands, bitsPerBand, flips))
  def bigramStrings(tokens: Column): Column = c(BigramStringsAll(e(tokens)))
  /** Aggregate: each `key`'s best `k` rows by (score desc, id asc) as
    * `array<struct<key, rk, id, score>>` — see [[TopKPerKey]]. Key and id
    * are read as longs, the score as a double. */
  def topK(key: Column, id: Column, score: Column, k: Int): Column =
    c(TopKPerKey(e(key.cast("long")), e(id.cast("long")), e(score.cast("double")), k)
      .toAggregateExpression())
}
