package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * INTERPRETED per element — for an all-pairs cosine over 64-dim
  * embeddings that is millions of lambda invocations per second of
  * useful work. These expressions generate a tight primitive loop via
  * `doGenCode` (and so stay inside whole-stage codegen), the
  * second-preference extension point after built-ins (custom Expression
  * beats UDF beats everything else).
  *
  * Both operands MUST already be array<double> (call sites cast with
  * `.cast("array<double>")`, itself a native codegen'd Cast); null
  * ELEMENTS are treated as impossible (dense embeddings), null arrays
  * propagate null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0; val n = math.min(x.numElements(), y.numElements())
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in ONE array traversal (dot and both norms
  * accumulated together): dot / (sqrt(n1) * sqrt(n2)) — the exact
  * floating-point sequence of the fold-based formulation it replaces,
  * so results are bit-identical to the verified oracle behavior. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var dot = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; n1 += xv * xv; n2 += yv * yv; i += 1
    }
    dot / (math.sqrt(n1) * math.sqrt(n2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $n1 = 0.0; double $n2 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.getDouble($i); double $yv = $y.getDouble($i);
         |  $dot += $xv * $yv; $n1 += $xv * $xv; $n2 += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($n1) * java.lang.Math.sqrt($n2));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED string arrays by a single merge pass —
  * O(n+m) with zero per-call allocation, vs `array_intersect`'s hash-set
  * build per invocation. The workhorse of exact set-similarity
  * verification (all-pairs / candidate-pair Jaccard): callers pre-sort
  * once per document with `sort_array`, then every pair comparison is a
  * tight loop. Inputs MUST be sorted, distinct, null-element-free. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_intersect_size"

  // element type chosen at plan time: array<long> (hashed shingles — the
  // pipeline form, long compares) or array<string> (raw shingles)
  @transient private lazy val longElems: Boolean =
    left.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.LongType

  // a type mismatch must fail AT ANALYSIS, not read garbage at runtime
  // (getLong on a string array would): both sides the same array type,
  // elements long or string
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == LongType || l == StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two array<long> or two array<string> " +
            s"operands, got ${l.simpleString} and ${r.simpleString}")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    if (longElems) {
      while (i < n && j < m) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    } else {
      while (i < n && j < m) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val body = if (longElems) {
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |long $xv = $x.getLong($i); long $yv = $y.getLong($j);
           |if ($xv == $yv) { $c++; $i++; $j++; }
           |else if ($xv < $yv) { $i++; } else { $j++; }
         """.stripMargin
      } else {
        val cmp = ctx.freshName("cmp")
        s"""
           |int $cmp = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
           |if ($cmp == 0) { $c++; $i++; $j++; }
           |else if ($cmp < 0) { $i++; } else { $j++; }
         """.stripMargin
      }
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |int $n = $x.numElements(); int $m = $y.numElements();
         |while ($i < $n && $j < $m) {
         |$body
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Sign bits of `planes` (≤ 64) pseudo-random hyperplane projections of
  * an array<double> vector, computed in ONE array traversal — the
  * building block of hyperplane LSH (random-projection sign hashing).
  * Plane weights are derived inline from a splitmix64-style finalizer of
  * (firstPlane + p, dim): deterministic on every executor with zero
  * broadcast/random state, so bucket assignments are reproducible across
  * runs and cluster sizes. Replaces one interpreted `zip_with` +
  * `aggregate` pass PER PLANE (128 passes for 16×8 banding) with at most
  * ⌈planes/64⌉ codegen'd passes. */
case class HyperplaneSignBits(child: Expression, planes: Int, firstPlane: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 64, "1..64 planes per word")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_hyperplane_sign_bits"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val proj = new Array[Double](planes)
    var j = 0; val n = x.numElements()
    while (j < n) {
      val xv = x.getDouble(j)
      var p = 0
      while (p < planes) {
        proj(p) += xv * HyperplaneSignBits.weight(firstPlane + p, j); p += 1
      }
      j += 1
    }
    var bits = 0L; var p = 0
    while (p < planes) { if (proj(p) > 0) bits |= (1L << p); p += 1 }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j"); val p = ctx.freshName("p")
      val n = ctx.freshName("n"); val proj = ctx.freshName("proj")
      val h = ctx.freshName("h"); val xv = ctx.freshName("xv")
      val bits = ctx.freshName("bits")
      s"""
         |int $n = $x.numElements();
         |double[] $proj = new double[$planes];
         |for (int $j = 0; $j < $n; $j++) {
         |  double $xv = $x.getDouble($j);
         |  for (int $p = 0; $p < $planes; $p++) {
         |    long $h = (long)($firstPlane + $p) * 0x9E3779B97F4A7C15L
         |            + (long)$j * 0xBF58476D1CE4E5B9L;
         |    $h ^= ($h >>> 30); $h *= 0xBF58476D1CE4E5B9L;
         |    $h ^= ($h >>> 27); $h *= 0x94D049BB133111EBL;
         |    $h ^= ($h >>> 31);
         |    $proj[$p] += $xv * ((double)($h % 1001L) / 1000.0);
         |  }
         |}
         |long $bits = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  if ($proj[$p] > 0) $bits |= (1L << $p);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignBits =
    copy(child = newChild)
}

object HyperplaneSignBits {
  /** splitmix64-style finalizer of (plane, dim) → weight in [-1, 1].
    * MUST stay bit-identical to the generated-code version above. */
  def weight(p: Int, j: Int): Double = {
    var h = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    h ^= (h >>> 30); h *= 0xBF58476D1CE4E5B9L
    h ^= (h >>> 27); h *= 0x94D049BB133111EBL
    h ^= (h >>> 31)
    (h % 1001L).toDouble / 1000.0
  }
}

/** All k MinHash signature values of a shingle array in ONE traversal —
  * `[min_j xxhash64(j, el) for j in 0..k-1]` as array<long>, bit-identical
  * to the `min(xxhash64(lit(j), exploded_el))` aggregate formulation it
  * replaces (seed chain: XXH64.hashInt(j, 42) then hashUTF8String):
  * signatures become a NARROW MAP over documents instead of an
  * explode + k-aggregate groupBy — at 100 TB that deletes a
  * (docs × shingles)-row shuffle from every MinHash pipeline. An empty
  * shingle array yields Long.MaxValue sentinels (callers guarantee ≥ 1
  * shingle; Dedup.shingles emits the whole text as one shingle for
  * short docs). */
case class MinHashSigs(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 1024, "1 <= k <= 1024 signature values")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sigs"

  // array<long> input (pre-hashed shingles, Dedup.shinglesHashed): the
  // per-element hash is XXH64.hashLong — identical to SQL
  // `xxhash64(lit(j_seed), longEl)`'s inner step and ~4× cheaper than
  // re-hashing a 20-byte string per seed. array<string> keeps the
  // original hashUTF8String chain (bit-compat with the pre-lshv2 form).
  @transient private lazy val longElems: Boolean =
    child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.LongType

  // fail unsupported element types at analysis (getUTF8String on an
  // int array would read garbage at runtime)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    child.dataType match {
      case ArrayType(e, _) if e == LongType || e == StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<long> or array<string>, got " +
            t.simpleString)
    }
  }

  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(j =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(j, 42L))

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      var j = 0
      if (longElems) {
        val l = x.getLong(i)
        while (j < k) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(l, seeds(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      } else {
        val s = x.getUTF8String(i)
        while (j < k) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUTF8String(s, seeds(j))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val h = ctx.freshName("h")
      val perElem = if (longElems) {
        val l = ctx.freshName("l")
        s"""
           |long $l = $x.getLong($i);
           |for (int $j = 0; $j < $k; $j++) {
           |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
           |    .hashLong($l, $seedsRef[$j]);
           |  if ($h < $mins[$j]) $mins[$j] = $h;
           |}
         """.stripMargin
      } else {
        val s = ctx.freshName("s")
        s"""
           |org.apache.spark.unsafe.types.UTF8String $s = $x.getUTF8String($i);
           |for (int $j = 0; $j < $k; $j++) {
           |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
           |    .hashUTF8String($s, $seedsRef[$j]);
           |  if ($h < $mins[$j]) $mins[$j] = $h;
           |}
         """.stripMargin
      }
      s"""
         |int $n = $x.numElements();
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |$perElem
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** 64-bit SimHash of a (pre-distinct) token array in ONE traversal: bit b
  * of the fingerprint is the sign of Σ_tokens ±1 by bit b of
  * xxhash64(token) — bit-identical to the explode + 64-sum groupBy
  * aggregate formulation it replaces (integer sums are order-free), which
  * shuffled a (docs × tokens) relation per fingerprint. Empty array →
  * all sums 0 → fingerprint 0. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val sums = new Array[Int](64)
    var i = 0; val n = x.numElements()
    while (i < n) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(x.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L; var b = 0
    while (b < 64) { if (sums(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val sums = ctx.freshName("sums")
      val h = ctx.freshName("h"); val fp = ctx.freshName("fp")
      s"""
         |int $n = $x.numElements();
         |int[] $sums = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($x.getUTF8String($i), 42L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) != 0L) $sums[$b]++; else $sums[$b]--;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($sums[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Length of the longest run of equal adjacent elements in a SORTED
  * string array — i.e. the maximum multiplicity of any value — in one
  * merge-style pass. Callers sort once with `sort_array`; this replaces
  * a groupBy(key, value) + groupBy(key) max DOUBLE shuffle for a
  * quantity that is a pure per-row function of the array. Empty array
  * → 0. */
case class MaxRunLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_max_run_length"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n == 0) 0
    else {
      var best = 1; var run = 1; var i = 1
      while (i < n) {
        if (x.getUTF8String(i).equals(x.getUTF8String(i - 1))) {
          run += 1; if (run > best) best = run
        } else run = 1
        i += 1
      }
      best
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val best = ctx.freshName("best"); val run = ctx.freshName("run")
      s"""
         |int $n = $x.numElements();
         |int $best = 0;
         |if ($n > 0) {
         |  $best = 1; int $run = 1;
         |  for (int $i = 1; $i < $n; $i++) {
         |    if ($x.getUTF8String($i).equals($x.getUTF8String($i - 1))) {
         |      $run++; if ($run > $best) $best = $run;
         |    } else { $run = 1; }
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MaxRunLength =
    copy(child = newChild)
}

object VectorFunctions {
  /** Codegen'd dot product of two array<double> (or float, auto-cast). */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd cosine similarity. */
  def cosineNative(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd merge-intersection size of two sorted string arrays. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectSize(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd hyperplane-LSH sign bits (≤ 64 planes per call) of an
    * array<double> vector. */
  def hyperplaneSignBits(vec: Column, planes: Int, firstPlane: Int = 0): Column =
    ColumnBridge.column(HyperplaneSignBits(
      ColumnBridge.expression(vec), planes, firstPlane))

  /** Codegen'd all-k MinHash signature array of a shingle array. */
  def minhashSigs(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSigs(ColumnBridge.expression(shingles), k))

  /** Codegen'd 64-bit SimHash of a (distinct) token array. */
  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  /** Codegen'd longest-equal-run length of a SORTED string array. */
  def maxRunLength(sorted: Column): Column =
    ColumnBridge.column(MaxRunLength(ColumnBridge.expression(sorted)))
}
