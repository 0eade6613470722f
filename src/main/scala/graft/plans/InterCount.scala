package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd set-intersection COUNT for two string arrays:
  * `inter_count(sa, sb)` ≡ `size(array_intersect(sa, sb))` cast to
  * long, without materializing the intersection array (r18, guide
  * §1.2 step 2 — per-task work on the dedup/containment verify path).
  *
  * The verify kernels evaluate this once per CANDIDATE PAIR; on the
  * degenerate-LSH corpora the hero lane surfaced (tiny shingle
  * universe → band buckets grow with corpus size → millions of
  * candidates that fail the exact gate), the per-pair constant is the
  * whole cost of the pairs stage. `array_intersect` builds a generic
  * type-dispatched hash set AND allocates the result array + a
  * GenericArrayData per row just to take its size; this expression
  * builds one HashSet over the SMALLER side and counts probe hits
  * from the larger.
  *
  * Exact `array_intersect`-count semantics: the count is
  * |distinct(sa) ∩ distinct(sb)| — each matched element is removed
  * from the build set so duplicates on the probe side cannot
  * double-count (the verify inputs are per-doc DISTINCT sets by
  * construction, so this is defensive, not load-bearing). A NULL
  * element counts as `array_intersect` counts it — one shared value
  * when both sides hold one — so arrays whose type admits nulls take
  * [[InterCount.computeNullable]]; the verify inputs are
  * containsNull=false arrays (shingle_set / concat_ws outputs) and
  * keep the direct path. */
case class InterCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"inter_count expects two array<string> columns, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "inter_count"

  @transient private lazy val elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (elemsNullable) InterCount.computeNullable(x, y) else InterCount.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (elemsNullable) "computeNullable" else "compute"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.plans.InterCount.$fn($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object InterCount {
  /** One static call per row from codegen. Builds over the smaller
    * array, probes with the larger; matched entries are tombstoned so
    * the count is the DISTINCT intersection size whatever the inputs.
    *
    * r18: open-addressing index table instead of java.util.HashSet —
    * the verify kernels call this once per candidate pair (15M times
    * at the sf1 hero lane), and the HashSet paid node allocation,
    * boxing and rehash per element (~25 µs/pair measured). Here the
    * per-pair allocations are two primitive arrays + one wrapper per
    * element; matched slots flip negative (tombstone that still
    * participates in probe chains), duplicate build elements insert
    * once (HashSet.add semantics), and the probe loop early-exits once
    * every build element is matched. */
  /** Inject a ≤7-byte string into a nonzero positive long: the bytes
    * little-endian in bits 0..55, (numBytes+1) in bits 56..59. The
    * mapping is injective over byte strings, so long equality ⇔ byte
    * equality ⇔ the string equality the generic path uses — the fast
    * path below is EXACT, not a hash. Returns 0 for longer strings. */
  private def pack(e: UTF8String): Long = {
    val n = e.numBytes
    if (n > 7) return 0L
    val base = e.getBaseObject
    val off = e.getBaseOffset
    var v = 0L
    var i = 0
    while (i < n) {
      v |= (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xFFL) << (8 * i)
      i += 1
    }
    v | ((n + 1).toLong << 56)
  }

  /** Pack every element of `arr` into `out`; false (abort) on the
    * first unpackable (>7-byte) element. UnsafeArrayData elements are
    * read directly from the backing bytes — layout: 8-byte numElements
    * header + null bitset, then per-element (offset << 32 | size)
    * longs with offsets relative to the array's baseOffset (the same
    * reads UnsafeArrayData.getUTF8String performs, minus the wrapper
    * allocation). */
  private def packAll(arr: ArrayData, out: Array[Long]): Boolean = arr match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      import org.apache.spark.unsafe.Platform
      val n = u.numElements()
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val header = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .calculateHeaderPortionInBytes(n)
      var i = 0
      while (i < n) {
        val oas = Platform.getLong(base, off + header + 8L * i)
        val len = oas.toInt
        if (len > 7) return false
        val eOff = (oas >>> 32).toInt
        var v = 0L
        var bb = 0
        while (bb < len) {
          v |= (Platform.getByte(base, off + eOff + bb) & 0xFFL) << (8 * bb)
          bb += 1
        }
        out(i) = v | ((len + 1).toLong << 56)
        i += 1
      }
      true
    case _ =>
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val p = pack(arr.getUTF8String(i))
        if (p == 0L) return false
        out(i) = p
        i += 1
      }
      true
  }

  /** As [[packAll]] but never aborts: unpackable elements become 0
    * (they cannot match any packed build element). */
  private def packProbe(arr: ArrayData, out: Array[Long]): Unit = arr match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      import org.apache.spark.unsafe.Platform
      val n = u.numElements()
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val header = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .calculateHeaderPortionInBytes(n)
      var i = 0
      while (i < n) {
        val oas = Platform.getLong(base, off + header + 8L * i)
        val len = oas.toInt
        if (len > 7) out(i) = 0L
        else {
          val eOff = (oas >>> 32).toInt
          var v = 0L
          var bb = 0
          while (bb < len) {
            v |= (Platform.getByte(base, off + eOff + bb) & 0xFFL) << (8 * bb)
            bb += 1
          }
          out(i) = v | ((len + 1).toLong << 56)
        }
        i += 1
      }
    case _ =>
      val n = arr.numElements()
      var i = 0
      while (i < n) { out(i) = pack(arr.getUTF8String(i)); i += 1 }
  }

  /** [[compute]] for arrays that may hold NULL elements: the count of
    * the non-null elements' intersection, plus one when both sides
    * hold a NULL (`array_intersect` keeps one NULL then). Arrays with
    * no NULL element go straight to [[compute]]. */
  def computeNullable(a: ArrayData, b: ArrayData): Long = {
    def nulls(x: ArrayData) = (0 until x.numElements()).count(x.isNullAt)
    val (na, nb) = (nulls(a), nulls(b))
    if (na == 0 && nb == 0) return compute(a, b)
    def nonNull(x: ArrayData, n: Int): ArrayData =
      if (n == 0) x
      else new org.apache.spark.sql.catalyst.util.GenericArrayData(
        (0 until x.numElements()).filterNot(x.isNullAt).map(x.getUTF8String).toArray[Any])
    compute(nonNull(a, na), nonNull(b, nb)) + (if (na > 0 && nb > 0) 1L else 0L)
  }

  def compute(a: ArrayData, b: ArrayData): Long = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    if (ns == 0) return 0L
    // FAST PATH (r18): char-k shingles are ≤7 bytes for ASCII text, so
    // both sides usually pack into primitive longs — the whole
    // intersection then runs on two long arrays with zero per-element
    // allocation and zero hashing (the packed value IS the key; the
    // packing is injective, so this path is EXACT). Any unpackable
    // build element falls back to the generic table; an unpackable
    // PROBE element simply cannot match a packed build element
    // (lengths differ) and is skipped. For UnsafeArrayData (the only
    // runtime representation on the verify path — broadcast relations
    // and checkpointed rows) elements are read straight from the
    // backing bytes, skipping the per-element UTF8String wrapper that
    // dominated the profile at 15M pairs × ~380 elements.
    val keys = new Array[Long](ns)
    val packable = packAll(small, keys)
    if (packable) {
      val cap = Integer.highestOneBit(math.max(4, ns * 2 - 1)) << 1
      val mask = cap - 1
      val table = new Array[Long](cap) // 0 = empty; >0 = unmatched; |MinValue = matched
      var ni = 0 // distinct build elements inserted
      var i = 0
      while (i < ns) {
        val p = keys(i)
        var h = (p ^ (p >>> 29)).toInt & mask
        var ins = true
        while (ins) {
          val v = table(h)
          if (v == 0L) { table(h) = p; ni += 1; ins = false }
          else if (v == p) ins = false // duplicate build element: insert once
          else h = (h + 1) & mask
        }
        i += 1
      }
      var cnt = 0L
      val nb = big.numElements()
      val probes = new Array[Long](nb)
      packProbe(big, probes)
      var j = 0
      while (j < nb && cnt < ni) {
        val p = probes(j)
        if (p != 0L) {
          var h = (p ^ (p >>> 29)).toInt & mask
          var go = true
          while (go) {
            val v = table(h)
            if (v == 0L) go = false
            else if ((v & Long.MaxValue) == p) {
              if (v > 0L) { cnt += 1L; table(h) = p | Long.MinValue }
              go = false
            } else h = (h + 1) & mask
          }
        }
        j += 1
      }
      return cnt
    }
    // generic path: open-addressing over UTF8String elements
    // power-of-two capacity ≥ 2·ns keeps load factor ≤ 0.5
    val cap = Integer.highestOneBit(math.max(4, ns * 2 - 1)) << 1
    val mask = cap - 1
    val idx = new Array[Int](cap) // 0 = empty; i+1 = unmatched; -(i+1) = matched
    val elems = new Array[UTF8String](ns)
    var i = 0
    while (i < ns) {
      val e = small.getUTF8String(i)
      elems(i) = e
      var h = e.hashCode & mask
      var ins = true
      while (ins) {
        val slot = idx(h)
        if (slot == 0) { idx(h) = i + 1; ins = false }
        else if (elems(math.abs(slot) - 1).equals(e)) ins = false // dup build element
        else h = (h + 1) & mask
      }
      i += 1
    }
    var cnt = 0L
    val nb = big.numElements()
    var j = 0
    while (j < nb && cnt < ns) {
      val e = big.getUTF8String(j)
      var h = e.hashCode & mask
      var go = true
      while (go) {
        val slot = idx(h)
        if (slot == 0) go = false
        else {
          if (elems(math.abs(slot) - 1).equals(e)) {
            if (slot > 0) { cnt += 1L; idx(h) = -slot }
            go = false
          } else h = (h + 1) & mask
        }
      }
      j += 1
    }
    cnt
  }
}
