package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths where Spark's built-in
  * higher-order functions (`aggregate`/`zip_with`/`transform`) fall out
  * of whole-stage codegen and evaluate a lambda per array element.
  *
  * ArrayDotProduct replaces aggregate(zip_with(a,b,·*·),0,+) in the
  * similarity operators: same left-to-right double summation (so results
  * remain bitwise identical to the DuckDB oracle's generated sum), but
  * as one generated loop over primitive array slots.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"ArrayDotProduct needs array<double> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += x.getDouble(i) * y.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // fresh names: several dots can land in ONE generated function
    // (lshBucket emits 8, IVF's rank_d emits 2) — fixed names collide,
    // javac rejects the function, and the whole projection silently
    // falls back to interpreted eval
    val n = ctx.freshName("dotN")
    val sum = ctx.freshName("dotSum")
    val i = ctx.freshName("dotI")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** 2-D Morton (Z-order) interleave: the low 32 bits of `left` occupy
  * the even bit positions of the result, the low 32 bits of `right`
  * the odd ones. The z-value is the multi-dimensional clustering key
  * the s15 layout entry range-partitions and sorts by: rows close in z
  * are close in BOTH dimensions, so every parquet row group's min/max
  * stats form a tight box on the ORIGINAL columns and a 2-predicate
  * probe skips row groups on both at once — no query rewrite, plain
  * pushed filters. A SQL formulation would be 32 shift/mask terms per
  * dimension interpreted row-by-row; this is one generated loop-free
  * sequence inside whole-stage codegen (the classic parallel-bit
  * spread, 5 shift-mask rounds per dimension).
  */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"MortonInterleave needs bigint inputs, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(a: Any, b: Any): Any =
    MortonInterleave.spread(a.asInstanceOf[Long]) |
      (MortonInterleave.spread(b.asInstanceOf[Long]) << 1)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the 5-round parallel bit spread, inlined per side with fresh
    // names (same collision rationale as ArrayDotProduct)
    def spreadCode(in: String, out: String): String =
      s"""
         |long $out = $in & 0xFFFFFFFFL;
         |$out = ($out | ($out << 16)) & 0x0000FFFF0000FFFFL;
         |$out = ($out | ($out << 8))  & 0x00FF00FF00FF00FFL;
         |$out = ($out | ($out << 4))  & 0x0F0F0F0F0F0F0F0FL;
         |$out = ($out | ($out << 2))  & 0x3333333333333333L;
         |$out = ($out | ($out << 1))  & 0x5555555555555555L;
       """.stripMargin
    val za = ctx.freshName("mortonA")
    val zb = ctx.freshName("mortonB")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${spreadCode(a, za)}
         |${spreadCode(b, zb)}
         |${ev.value} = $za | ($zb << 1);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonInterleave =
    copy(left = newLeft, right = newRight)
}

object MortonInterleave {
  /** Reference spread (low 32 bits → even bit positions of a long). */
  def spread(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
}

/** Distinct character n-gram shingles of an (already normalized) string,
  * in first-occurrence order — replaces
  * array_distinct(transform(sequence(...), i -> substr(...))) which
  * interprets two lambdas per character. Single tight pass; fallback
  * (non-codegen) eval is still ~two orders of magnitude fewer virtual
  * calls than the lambda pipeline.
  */
case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (s.length <= n) {
      out.add(UTF8String.fromString(s))
    } else {
      var i = 0
      val max = s.length - n
      while (i <= max) {
        out.add(UTF8String.fromString(s.substring(i, i + n)))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): CharShingles =
    copy(child = c)
}

/** md5 of every element of a string array in one tight loop — replaces
  * `transform(arr, s -> md5(s))`, which HOF-interprets a lambda (and a
  * fresh Md5 expression eval) per element. The dedup pipelines hash
  * every shingle of every document (~10⁶–10⁹ md5s at corpus scale), so
  * the per-call overhead is the dominant constant. DigestUtils.md5Hex
  * over the UTF8 bytes is exactly what Spark's Md5 expression computes,
  * keeping DuckDB-oracle equality intact. */
case class ArrayMd5(child: Expression)
    extends UnaryExpression with CodegenFallback {

  // containsNull follows the child: a null element md5s to a null
  // element, exactly as the transform(arr, md5) it replaces
  override def dataType: DataType = ArrayType(StringType,
    containsNull = child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ArrayMd5 needs array<string>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) null
        else UTF8String.fromString(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            arr.getUTF8String(i).getBytes))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ArrayMd5 =
    copy(child = c)
}

/** The node2vec walk step's weighted candidate pick for LONG and
  * STRING node ids (Grover & Leskovec 2016), by exponential race:
  * candidate c ∈ nbrs gets weight w = 1/p when c == prev, 1 when
  * c ∈ prevNbrs, else 1/q; its draw is u = the engine's pseudo-uniform
  * over XXH64(c, baseHash), with baseHash = xxhash64(walk_id, step)
  * computed once per row by the (codegen'd) builtin — identical
  * chaining to xxhash64(walk_id, step, c): hashLong for longs,
  * hashUnsafeBytes for strings. The pick is argmin −ln(u + 1e−12)/w,
  * ties broken on c in Spark's order (numeric; UTF-8 binary): O(deg)
  * per step instead of an O(deg²) prefix-sum scan, in one tight loop
  * instead of a lambda interpreted per candidate. `prevNbrs` MUST be
  * sorted ascending in that order (Node2Vec.neighborTable sorts),
  * turning the membership test into a binary search.
  *
  * [[WeightedStepPick.pickIndex]] is the routine; the expression (one
  * row per walk per step, the distributed walk) and Node2Vec's
  * in-memory walk kernel both call it, so the two walk shapes pick
  * identically by construction.
  */
case class WeightedStepPick(nbrs: Expression, prevNbrs: Expression,
    prev: Expression, baseHash: Expression,
    invP: Double, invQ: Double, seed: Long)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(nbrs, prevNbrs, prev, baseHash)
  override def dataType: DataType = prev.dataType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val id = prev.dataType
    def arrOfId(t: DataType) = t match {
      case ArrayType(e, _) => e == id
      case _ => false
    }
    if ((id == LongType || id == StringType) && arrOfId(nbrs.dataType) &&
        arrOfId(prevNbrs.dataType) && baseHash.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"WeightedStepPick needs (array<t>, array<t>, t, long) with t long or string, got " +
        s"(${nbrs.dataType}, ${prevNbrs.dataType}, ${prev.dataType}, ${baseHash.dataType})")
  }

  override def eval(input: InternalRow): Any = {
    val ns = nbrs.eval(input).asInstanceOf[ArrayData]
    val pv = prev.eval(input)
    val h0 = baseHash.eval(input)
    if (ns == null || pv == null || h0 == null) return null
    val i = WeightedStepPick.pickIndex(ns,
      prevNbrs.eval(input).asInstanceOf[ArrayData], pv, h0.asInstanceOf[Long],
      invP, invQ, seed)
    if (i < 0) null else ns.get(i, dataType)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WeightedStepPick =
    copy(nbrs = newChildren(0), prevNbrs = newChildren(1),
      prev = newChildren(2), baseHash = newChildren(3))
}

object WeightedStepPick {

  /** Index in `nbrs` of the step's pick, -1 when `nbrs` is empty. `prev`
    * is a java.lang.Long or a UTF8String (the id type follows it);
    * a null `prevNbrs` is the empty set. */
  def pickIndex(nbrs: ArrayData, prevNbrs: ArrayData, prev: Any, baseHash: Long,
                invP: Double, invQ: Double, seed: Long): Int = {
    val n = nbrs.numElements()
    var best = -1
    var bestKey = Double.PositiveInfinity
    var i = 0
    prev match {
      case pv: UTF8String =>
        while (i < n) {
          val c = nbrs.getUTF8String(i)
          val key = raceKey(c == pv, containsSorted(prevNbrs, c),
            XXH64.hashUnsafeBytes(c.getBaseObject, c.getBaseOffset, c.numBytes, baseHash),
            invP, invQ, seed)
          if (best < 0 || key < bestKey ||
              (key == bestKey && c.binaryCompare(nbrs.getUTF8String(best)) < 0)) {
            best = i; bestKey = key
          }
          i += 1
        }
      case _ =>
        val pv = prev.asInstanceOf[Long]
        val ps = if (prevNbrs == null) Array.emptyLongArray else prevNbrs.toLongArray()
        while (i < n) {
          val c = nbrs.getLong(i)
          val key = raceKey(c == pv, java.util.Arrays.binarySearch(ps, c) >= 0,
            XXH64.hashLong(c, baseHash), invP, invQ, seed)
          if (best < 0 || key < bestKey || (key == bestKey && c < nbrs.getLong(best))) {
            best = i; bestKey = key
          }
          i += 1
        }
    }
    best
  }

  /** −ln(u + 1e−12)/w for the candidate whose XXH64 is `h`. */
  private def raceKey(isPrev: Boolean, inPrevNbrs: Boolean, h: Long,
                      invP: Double, invQ: Double, seed: Long): Double = {
    val w = if (isPrev) invP else if (inPrevNbrs) 1.0 else invQ
    // the engine's pseudo-uniform (ColFns.pseudoUniform), inlined on
    // primitives: pmod(pmod(h,999983)·2654435761 + seed·40503, 1000003)/1000003
    val m1 = ((h % 999983L) + 999983L) % 999983L
    val mixed = ((m1 * 2654435761L + seed * 40503L) % 1000003L + 1000003L) % 1000003L
    val u = mixed.toDouble / 1000003.0
    // StrictMath.log: Spark's Log expression uses it, keeping this
    // routine bit-identical to the SQL formulation on the same inputs
    -java.lang.StrictMath.log(u + 1e-12) / w
  }

  /** Binary search of a UTF-8-binary-sorted string array. */
  private def containsSorted(sorted: ArrayData, c: UTF8String): Boolean = {
    if (sorted == null) return false
    var lo = 0
    var hi = sorted.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = sorted.getUTF8String(mid).binaryCompare(c)
      if (cmp < 0) lo = mid + 1
      else if (cmp > 0) hi = mid - 1
      else return true
    }
    false
  }
}

/** Whitespace-token hit counts against K lexicons in ONE pass over the
  * text — replaces K × (regex split + higher-order filter +
  * array_contains), which re-splits the string and interprets a lambda
  * per token per lexicon. Tokenization matches split(trim(s), "\s+")
  * exactly (same \s character class), so oracle equality is untouched;
  * the language-ID / quality scan drops from K interpreted passes to a
  * single substring walk with O(1) hash probes. */
case class TokenHitCounts(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"TokenHitCounts needs string, got $other")
    }

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    lists.map { ws =>
      val s = new java.util.HashSet[String](ws.size * 2)
      ws.foreach(s.add)
      s
    }.toArray

  // Java regex \s — the exact class split(trim(s), "\s+") breaks on
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val counts = new Array[Int](sets.length)
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        val tok = s.substring(start, i)
        var k = 0
        while (k < counts.length) {
          if (sets(k).contains(tok)) counts(k) += 1
          k += 1
        }
      }
    }
    new GenericArrayData(counts.map(Int.box).asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): TokenHitCounts =
    copy(child = c)
}

/** All `nSlices` MinHash signature components in ONE pass over the
  * pre-hashed shingle array — replaces nSlices ×
  * array_min(transform(hs, substr)), each an interpreted lambda per
  * shingle. Component j is the minimum of the `width`-char substring
  * at offset j·width of every md5 hex (binary UTF8String order — the
  * same ordering array_min applies to strings, so results are
  * bit-identical). Empty input yields all-null components, exactly as
  * array_min over an empty transform. */
case class MinhashSlices(child: Expression, nSlices: Int, width: Int = 8)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"MinhashSlices needs array<string>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = new Array[Any](nSlices)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // null elements skipped, as array_min does
        val h = arr.getUTF8String(i)
        var j = 0
        while (j < nSlices) {
          val s = h.substring(j * width, (j + 1) * width)
          // binaryCompare, NOT compareTo: Spark 4.1's compareTo is a
          // deprecation shim that re-reads SPARK_TESTING from the
          // process environment on EVERY call (SparkEnvUtils.isTesting
          // -> System.getenv, an allocation + byte-encode per lookup)
          // before delegating to this exact byte comparison. In this
          // per-shingle-per-slice loop that shim was ~60% of the whole
          // signature pass at sf1 (jstack: all 32 executor threads in
          // ProcessEnvironment.get).
          if (mins(j) == null ||
              s.binaryCompare(mins(j).asInstanceOf[UTF8String]) < 0) mins(j) = s
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinhashSlices =
    copy(child = c)
}

/** Count of common DISTINCT values of two SORTED string arrays — the
  * exact-Jaccard verification kernel of the dedup pipelines (d7, e11,
  * r9). Unconditionally equal to `size(array_intersect(a, b))` on
  * sorted inputs (duplicate runs are skipped after a match, so even
  * non-deduped arrays count each value once), but evaluated as ONE
  * allocation-free merge scan per pair instead of building a per-row
  * hash set plus the materialized intersection array. Candidate pairs
  * number 10⁴–10⁷ per ingest batch at corpus scale, so the per-pair
  * constant is the operator's whole cost. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count needs two array<string> inputs, " +
            s"got ${left.dataType} / ${right.dataType}")
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      // null ELEMENTS are skipped, never matched (shingle arrays carry
      // none — CharShingles builds containsNull=false — but a parquet
      // round-trip relaxes the schema to nullable, so stay defensive
      // instead of NPE-ing mid-task)
      val x = a.getUTF8String(i)
      if (x == null) i += 1
      else {
        val y = b.getUTF8String(j)
        if (y == null) j += 1
        else {
          // binaryCompare ≡ compareTo's byte order minus the per-call
          // SPARK_TESTING env probe compareTo pays in Spark 4.1 (see
          // MinhashSlices — at ~4k comparisons per candidate pair the
          // probe dominated e11's micro-batch joins)
          val cmp = x.binaryCompare(y)
          if (cmp == 0) {
            // count the VALUE once, then skip its whole run on both
            // sides, so the expression equals size(array_intersect) on
            // any sorted input — not only the distinct-by-construction
            // shingle arrays (a caller with non-deduped arrays must not
            // get silently inflated Jaccard)
            c += 1
            i += 1; j += 1
            while (i < na && x.equals(a.getUTF8String(i))) i += 1
            while (j < nb && y.equals(b.getUTF8String(j))) j += 1
          }
          else if (cmp < 0) i += 1
          else j += 1
        }
      }
    }
    c
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(left = l, right = r)
}

/** Deterministic per-group bottom-k-by-hash sample as a native Catalyst
  * AGGREGATE (the §2.13 surface so far held only scalar expressions).
  *
  * Keeps, per group, the k keys with the smallest `(mix(key), key)`
  * where `mix` is the SAME Knuth multiplicative hash as
  * `ColFns.pseudoUniform` — so the sample is a uniform without-
  * replacement draw that both engines can reproduce bit-for-bit, and
  * every draw is retry/AQE/partitioning-stable (the reference samples
  * with `pandas.sample(random_state)`; this is the distributed
  * contract that replaces it, Create_pytorch_geometric_graph_data.py's
  * negative-sampling draw being the canonical consumer).
  *
  * Why an aggregate and not a window: `row_number() OVER (PARTITION BY
  * g ORDER BY hash)` shuffles and SORTS every row of the corpus. A
  * TypedImperativeAggregate keeps ≤k keys per group per partition
  * map-side (partial aggregation through ObjectHashAggregate), so at
  * 100 TB the exchange carries k·|groups| keys instead of the corpus —
  * the same partial-combine story every other aggregate in the engine
  * rides. The buffer is a bounded max-heap on the WORST kept element;
  * serialize ships only the kept keys (hashes recompute from salt).
  */
case class BottomKByHash(
    child: Expression,
    k: Int,
    salt: Long,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]] {

  require(k > 0, "bottom_k_by_hash: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bottom_k_by_hash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bottom_k_by_hash needs a BIGINT key, got ${t.sql}")
    }

  /** ColFns.pseudoUniform's integer core — identical on both engines. */
  private def mix(key: Long): Long = {
    val reduced = ((key % 999983L) + 999983L) % 999983L
    ((reduced * 2654435761L + salt * 40503L) % 1000003L + 1000003L) % 1000003L
  }

  // heap top = the WORST kept key (largest (mix, key)) → O(log k) evict
  private def worstFirst: java.util.Comparator[java.lang.Long] =
    new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int = {
        val c = java.lang.Long.compare(mix(b), mix(a))
        if (c != 0) c else java.lang.Long.compare(b, a)
      }
    }

  override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
    new java.util.PriorityQueue[java.lang.Long](k + 1, worstFirst)

  private def offer(buf: java.util.PriorityQueue[java.lang.Long], key: Long): Unit = {
    if (buf.size < k) { buf.offer(key); () }
    else {
      val worst = buf.peek()
      val mk = mix(key); val mw = mix(worst)
      if (mk < mw || (mk == mw && key < worst)) { buf.poll(); buf.offer(key); () }
    }
  }

  override def update(buf: java.util.PriorityQueue[java.lang.Long],
                      input: InternalRow): java.util.PriorityQueue[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.PriorityQueue[java.lang.Long],
                     other: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: java.util.PriorityQueue[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    // ascending (mix, key): the sample in draw order
    val sorted = arr.sortBy(x => (mix(x), x))
    new GenericArrayData(sorted)
  }

  override def serialize(buf: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.offer(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKByHash =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKByHash =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKByHash =
    copy(child = newChildren.head)
}

/** KMV (K-Minimum-Values) distinct sketch — the mergeable form of
  * COUNT(DISTINCT), the one aggregate a partial-merge refresh (e15's
  * pattern) cannot maintain with plain monoids: distinct counts don't
  * add. The sketch keeps the k smallest values of a BIJECTIVE 64-bit
  * mix of the key (splitmix64's finalizer — a permutation of the longs,
  * so distinct keys NEVER collide): below k distinct keys the sketch IS
  * the distinct set and the count is EXACT (which is what lets the
  * DuckDB oracle be a plain COUNT(DISTINCT)); beyond k it estimates
  * (k−1)·2⁶⁴∕kth-min with ~1/√k relative error, at a FIXED 8k-entry
  * state per group regardless of corpus size. Sketches union by keeping
  * the k smallest of the merged sets — associative and commutative, so
  * per-batch sketches persisted as binary columns can be merged in any
  * order, across dvid partitions, days, or clusters.
  *
  * One aggregate serves both ends of the lifecycle, switching on input
  * type: a BIGINT column builds a sketch from raw keys; a BINARY column
  * unions previously persisted sketches. Binary layout:
  * [int k][int n][n longs ascending in unsigned order].
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 1, "kmv_sketch: k must be > 1")

  // lazy: the child is unresolved at construction (no dataType yet)
  private lazy val rawInput: Boolean = child.dataType == LongType

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "kmv_sketch"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch takes a BIGINT key or a BINARY sketch, got ${t.sql}")
    }

  // buffer holds SHIFTED hashes (h ^ Long.MinValue) so the TreeSet's
  // signed order is the hash's unsigned order; k-smallest = first k
  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], shifted: Long): Unit = {
    if (buf.size < k) { buf.add(shifted); () }
    else if (shifted < buf.last()) {
      if (buf.add(shifted)) { buf.pollLast(); () }
    }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      if (rawInput)
        insert(buf, KmvSketch.mix64(v.asInstanceOf[Long]) ^ java.lang.Long.MIN_VALUE)
      else {
        val bb = java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
        bb.getInt // stored k (the wrapper pins one k per pipeline)
        val n = bb.getInt
        var i = 0
        while (i < n) { insert(buf, bb.getLong); i += 1 }
      }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = serialize(buf)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * buf.size)
    bb.putInt(k)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

object KmvSketch {
  /** splitmix64 finalizer — a BIJECTION on the 64-bit longs, so the
    * sketch's below-k regime is exactly the distinct set (no collision
    * can ever undercount). */
  def mix64(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 30); x *= 0xbf58476d1ce4e5b9L
    x ^= (x >>> 27); x *= 0x94d049bb133111ebL
    x ^= (x >>> 31)
    x
  }
}

/** Cardinality readout of a KMV sketch binary: exact set size below k,
  * (k−1)·2⁶⁴∕kth-min beyond. Per-group scalar (one eval per output
  * row), so interpreted eval is immaterial — CodegenFallback. */
case class KmvCardinality(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "kmv_card"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"kmv_card needs a BINARY sketch, got ${t.sql}")
    }

  override def nullSafeEval(v: Any): Any = {
    val bb = java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    val k = bb.getInt
    val n = bb.getInt
    if (n < k) n.toLong
    else {
      // kth-min as a fraction of the unsigned hash space: values are
      // stored shifted (h ^ MIN_VALUE), so unsigned = stored − MIN_VALUE
      var kth = 0L
      var i = 0
      while (i < n) { kth = bb.getLong; i += 1 }
      val frac = (kth.toDouble - java.lang.Long.MIN_VALUE.toDouble + 1.0) /
        math.pow(2.0, 64)
      math.round((k - 1).toDouble / frac)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KmvCardinality =
    copy(child = newChild)
}

object expressions {
  import org.apache.spark.sql.GraftColumnBridge._

  /** Column-API wrappers. */
  def array_dot(a: Column, b: Column): Column =
    toColumn(ArrayDotProduct(toExpression(a), toExpression(b)))

  def sorted_intersect_count(a: Column, b: Column): Column =
    toColumn(SortedIntersectCount(toExpression(a), toExpression(b)))

  def morton_interleave(a: Column, b: Column): Column =
    toColumn(MortonInterleave(
      toExpression(a.cast("long")), toExpression(b.cast("long"))))

  def char_shingles(s: Column, n: Int): Column =
    toColumn(CharShingles(toExpression(s), n))

  def array_md5(arr: Column): Column =
    toColumn(ArrayMd5(toExpression(arr)))

  def token_hit_counts(s: Column, lists: Seq[Seq[String]]): Column =
    toColumn(TokenHitCounts(toExpression(s), lists))

  def minhash_slices(hs: Column, nSlices: Int, width: Int = 8): Column =
    toColumn(MinhashSlices(toExpression(hs), nSlices, width))

  def bottom_k_by_hash(key: Column, k: Int, salt: Long): Column =
    toColumn(BottomKByHash(toExpression(key), k, salt).toAggregateExpression())

  /** Build a KMV distinct sketch from a BIGINT key column, or union
    * BINARY sketch columns (input type selects the mode). */
  def kmv_sketch(c: Column, k: Int): Column =
    toColumn(KmvSketch(toExpression(c), k).toAggregateExpression())

  def kmv_card(sketch: Column): Column =
    toColumn(KmvCardinality(toExpression(sketch)))

  def weighted_step_pick(nbrs: Column, prevNbrs: Column, prev: Column,
                         baseHash: Column, invP: Double, invQ: Double,
                         seed: Long): Column =
    toColumn(WeightedStepPick(toExpression(nbrs), toExpression(prevNbrs),
      toExpression(prev), toExpression(baseHash), invP, invQ, seed))
}
