package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The round-6 ANN scoring rule, spelled once for the native IVF/PQ
  * expressions and for [[graft.sim.Similarity]]'s driver-side probe
  * and ADC tables; the DuckDB oracles replay it as
  * `EmbeddingQueries.cos` / `nearestCell`.
  *  - Cosine of a vector against a centroid is accumulated in double in
  *    index order. On equal lengths it uses full norms, the centroid's
  *    precomputed once; on ragged lengths it runs over min(len)
  *    elements with min-length norms, like `CosineSimilarity`. It is
  *    0.0 when the norm product is 0.
  *  - Squared L2 of a vector slice against a PQ codeword.
  *  - Every score goes through [[r6]].
  *  - Ranking puts NaN above every number (Spark's and DuckDB's order)
  *    and breaks ties to the lowest position.
  * The Column twins (`Similarity.ivfCellCols`, `ivfProbeCols`,
  * `pqEncodeCols`) spell the same rule independently; SimilaritySpec
  * compares the two. */
private[graft] object AnnKernel {

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * representation (`BigDecimal.valueOf`); NaN and ±Inf pass through. */
  def r6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** A centroid matrix with each row's norm, computed once. */
  final class Centroids(val rows: Array[Array[Float]]) {
    val norms: Array[Double] = rows.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i).toDouble * c(i); i += 1 }
      math.sqrt(s)
    }
    val all: Array[Int] = Array.range(0, rows.length)

    /** Round-6 cosine of `x` against each centroid in `cells`. */
    def cosines(x: Array[Double], cells: Array[Int]): Array[Double] = {
      var nx2 = 0.0; var i = 0
      while (i < x.length) { nx2 += x(i) * x(i); i += 1 }
      val nx = math.sqrt(nx2)
      val out = new Array[Double](cells.length)
      var k = 0
      while (k < cells.length) {
        out(k) = r6(cosine(x, nx, rows(cells(k)), norms(cells(k))))
        k += 1
      }
      out
    }
  }

  private def cosine(x: Array[Double], nx: Double,
                     c: Array[Float], nc: Double): Double = {
    var dot = 0.0
    if (c.length == x.length) {
      var j = 0
      while (j < x.length) { dot += x(j) * c(j); j += 1 }
      val d = nx * nc
      if (d == 0.0) 0.0 else dot / d
    } else {
      val m = math.min(x.length, c.length)
      var na = 0.0; var nb = 0.0
      var j = 0
      while (j < m) {
        val a = x(j); val b = c(j).toDouble
        dot += a * b; na += a * a; nb += b * b
        j += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
  }

  /** Round-6 squared L2 distance from `x(off until off + sub)` to each
    * codeword of `book` (`sub` is the codeword length). */
  def sqL2(x: Array[Double], off: Int,
           book: Array[Array[Float]]): Array[Double] = {
    val out = new Array[Double](book.length)
    var c = 0
    while (c < book.length) {
      val cv = book(c)
      var d2 = 0.0
      var j = 0
      while (j < cv.length) {
        val d = x(off + j) - cv(j).toDouble
        d2 += d * d
        j += 1
      }
      out(c) = r6(d2)
      c += 1
    }
    out
  }

  /** `a` ranks strictly above `b`, NaN above every number. */
  private def above(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else a > b

  /** Position of the highest score, ties to the lowest; -1 if none. */
  def argmax(s: Array[Double]): Int = {
    var best = if (s.isEmpty) -1 else 0
    var i = 1
    while (i < s.length) { if (above(s(i), s(best))) best = i; i += 1 }
    best
  }

  /** Position of the lowest score, ties to the lowest; -1 if none. */
  def argmin(s: Array[Double]): Int = {
    var best = if (s.isEmpty) -1 else 0
    var i = 1
    while (i < s.length) { if (above(s(best), s(i))) best = i; i += 1 }
    best
  }

  /** Positions of the `n` highest scores (at least one, at most all),
    * best first, ties to the lowest position. */
  def topN(s: Array[Double], n: Int): Array[Int] = {
    val out = new Array[Int](math.min(math.max(1, n), s.length))
    val taken = new Array[Boolean](s.length)
    var t = 0
    while (t < out.length) {
      var best = -1
      var i = 0
      while (i < s.length) {
        if (!taken(i) && (best < 0 || above(s(i), s(best)))) best = i
        i += 1
      }
      out(t) = best; taken(best) = true
      t += 1
    }
    out
  }
}

/** Native Catalyst expressions for the similarity/dedup hot paths.
  *
  * The pure-Column formulations (zip_with + aggregate lambdas) are
  * interpreted per element with boxed intermediates — measured 10-90s at
  * sf0.1 for the minhash/cosine/simhash queries. These expressions do the
  * same math in one tight JVM loop over ArrayData (no per-element
  * allocation): the preference-order case (b) from SURVEY.md §7 — a custom
  * Expression where built-in composition can't hit the required
  * throughput.
  *
  * CodegenFallback costs one virtual call per ROW (the loop inside is
  * native), which is negligible next to the per-ELEMENT interpretation it
  * replaces.
  *
  * Every expression here has a slow Column twin (Similarity.cosineCols,
  * Dedup.minhashSignatureCols, Dedup.portableSimhashCols,
  * TextOps.normalizeCols) and a spec proving output-identical results —
  * the twins document the semantics, the natives carry the load.
  */
object NativeExpressions {

  /** Per-element double reader resolved ONCE per plan (not per element).
    * Unsupported element types fail at resolution, not silently misread. */
  private def reader(e: Expression): (ArrayData, Int) => Double =
    e.dataType match {
      case ArrayType(FloatType, _) => (a, i) => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _) => (a, i) => a.getDouble(i)
      case ArrayType(IntegerType, _) => (a, i) => a.getInt(i).toDouble
      case ArrayType(LongType, _) => (a, i) => a.getLong(i).toDouble
      case ArrayType(ShortType, _) => (a, i) => a.getShort(i).toDouble
      case other => throw new IllegalArgumentException(
        s"expected array<numeric>, got ${other.sql}")
    }

  /** The elements of array value `input`, read once into doubles. */
  private def doubles(input: Any,
                      read: (ArrayData, Int) => Double): Array[Double] = {
    val v = input.asInstanceOf[ArrayData]
    val x = new Array[Double](v.numElements())
    var i = 0
    while (i < x.length) { x(i) = read(v, i); i += 1 }
    x
  }

  /** Cosine similarity of two numeric arrays, accumulated in double in
    * index order (bit-identical to the zip_with/aggregate formulation).
    * Null if either side is null; 0.0 if either norm is 0. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = DoubleType

    @transient private lazy val readL = reader(left)
    @transient private lazy val readR = reader(right)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val n = math.min(xs.numElements(), ys.numElements())
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val x = readL(xs, i)
        val y = readR(ys, i)
        dot += x * y; nx += x * x; ny += y * y
        i += 1
      }
      val d = math.sqrt(nx) * math.sqrt(ny)
      if (d == 0.0) 0.0 else dot / d
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Dot product in double (building block for pre-normalized vectors,
    * where cosine = dot — the O(n²)-safe path for threshold joins). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType

    @transient private lazy val readL = reader(left)
    @transient private lazy val readR = reader(right)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val n = math.min(xs.numElements(), ys.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += readL(xs, i) * readR(ys, i); i += 1 }
      dot
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** MinHash signature over an array of string shingles: for each seed k
    * in 1..numHashes, min over shingles of murmur3(shingle, k) — exactly
    * the value the SQL `hash(shingle, k)` produces (fold over children
    * with initial seed 42), so output is bit-identical to the Column twin
    * Dedup.minhashSignatureCols. One pass over the shingles: the per-
    * shingle byte hash is computed ONCE and reseeded per k with a single
    * int-mix, instead of numHashes interpreted lambda passes. */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val acc = Array.fill(numHashes)(Int.MaxValue)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          // Murmur3Hash(Seq(shingle, k), 42) folds left: bytes with seed
          // 42, then the int k with the byte hash as seed.
          val base = Murmur3_x86_32.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes(), 42)
          var k = 1
          while (k <= numHashes) {
            val h = Murmur3_x86_32.hashInt(k, base)
            if (h < acc(k - 1)) acc(k - 1) = h
            k += 1
          }
        }
        i += 1
      }
      new GenericArrayData(acc.map(Int.box))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Word n-gram shingles of a text: whitespace-tokenize, join each
    * window of `n` consecutive tokens with a single space, distinct
    * preserving first occurrence. Exactly the semantics of the Column
    * twin Dedup.shinglesCols (array_distinct of transform/slice/
    * array_join): docs shorter than n tokens yield one partial shingle;
    * an empty doc yields one empty-string shingle. One pass, no
    * per-window lambda interpretation — shingling was the dominant cost
    * (6.3s of the 16.7s minhash pipeline at sf0.1) once signatures went
    * native. */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].toString
        .split("\\s+").filter(_.nonEmpty)
      val last = math.max(toks.length - n, 0)
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= last) {
        val end = math.min(i + n, toks.length)
        val sb = new java.lang.StringBuilder()
        var k = i
        while (k < end) {
          if (k > i) sb.append(' ')
          sb.append(toks(k))
          k += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Greedy left-to-right non-overlapping fuse of adjacent (left,
    * right) token pairs — ONE compiled pass per array, replacing the
    * interpreted `aggregate` HOF fold in the BPE learner/encoder
    * (guide §4: the lambda fold alone measured ~12 s of task time per
    * learner round at sf0.1, and the learner runs it every round).
    * Semantics are EXACTLY the SQL fold's: an element equal to `left`
    * whose successor equals `right` fuses into "left right"
    * (space-joined); a just-fused atom never re-fuses within the same
    * round (its text is strictly longer than `left`), which is the
    * standard BPE greedy application order. Null elements pass
    * through unfused (the SQL fold's null-comparison branch takes
    * ELSE). Twin-pinned against the HOF fold in TextSpec. */
  case class BpeFuse(child: Expression, left: String, right: String)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType)

    @transient private lazy val lU = UTF8String.fromString(left)
    @transient private lazy val rU = UTF8String.fromString(right)
    @transient private lazy val fusedU =
      UTF8String.fromString(left + " " + right)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new java.util.ArrayList[Any](n)
      var lastIsLeft = false
      var i = 0
      while (i < n) {
        val x = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
        if (lastIsLeft && x != null && x.equals(rU)) {
          out.set(out.size - 1, fusedU)
          // the fused atom is strictly longer than `left`, so it can
          // never itself match `left` this round — non-overlap for free
          lastIsLeft = false
        } else {
          out.add(x)
          lastIsLeft = x != null && x.equals(lU)
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All sign-random-projection LSH bucket ids of a vector in ONE pass:
    * element t of the output is the `nPlanes`-bit bucket for hash table
    * `seeds(t)`. The hyperplane component at (seed, plane p, dim i) is
    * `pmod(hash(seed, p, i), 1000) / 1000.0 - 0.5` — the exact SQL
    * murmur3 fold the Column twin Similarity.srpBucketCols evaluates —
    * and bit p is set iff the projection (double accumulation in index
    * order) is > 0. The twin interprets tables × nPlanes × dim lambda
    * hops per row (the round-2 verdict's last interpreted hot path);
    * here the (seed, plane) hash prefix is folded once per plan and the
    * inner loop is one hashInt + multiply-add per dim. */
  case class SrpBuckets(child: Expression, nPlanes: Int, seeds: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    require(nPlanes > 0 && nPlanes <= 63, "nPlanes must be in [1, 63]")
    require(seeds.nonEmpty, "at least one hash-table seed required")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val read = reader(child)
    // SQL hash(seed, p, i) folds left from 42: hashInt(i, hashInt(p,
    // hashInt(seed, 42))) — the (seed, p) prefix is loop-invariant
    @transient private lazy val prefix: Array[Array[Int]] =
      seeds.map { s =>
        val h1 = Murmur3_x86_32.hashInt(s, 42)
        (0 until nPlanes).map(p => Murmur3_x86_32.hashInt(p, h1)).toArray
      }.toArray

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Any](prefix.length)
      var t = 0
      while (t < prefix.length) {
        val planes = prefix(t)
        var bucket = 0L
        var p = 0
        while (p < nPlanes) {
          val hp = planes(p)
          var proj = 0.0
          var i = 0
          while (i < n) {
            val h = Murmur3_x86_32.hashInt(i, hp)
            val m = ((h % 1000) + 1000) % 1000
            proj += read(arr, i) * (m / 1000.0 - 0.5)
            i += 1
          }
          if (proj > 0) bucket |= 1L << p
          p += 1
        }
        out(t) = bucket
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Nearest-centroid IVF cell id: argmax over the BROADCAST centroid
    * matrix of ROUND(cosine(vec, centroid), 6), ties to the LOWEST cell
    * id — [[AnnKernel]]'s rule, so the score grid matches Spark's
    * `round()` and the SQL oracles. One JVM loop per row (nlist × dim
    * multiply-adds, centroid norms precomputed once per executor); the
    * centroid matrix rides a TorrentBroadcast handle, so a 100k × 768
    * matrix ships to each executor ONCE and never appears in the plan
    * tree or per-task closures — the literal when-chain twin
    * (Similarity.ivfCellCols) dies in Catalyst analysis at realistic
    * nlist because it is an O(nlist)-ary expression tree with the
    * centroids serialized as literals (round-3 verdict, "what's wrong"
    * #1). Arithmetic is bit-identical to the twin: cosine accumulated in
    * double in index order over min(len) elements, 0.0 on zero norm. */
  case class IvfCell(child: Expression,
                     centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]])
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = IntegerType

    @transient private lazy val read = reader(child)
    @transient private lazy val cents = new AnnKernel.Centroids(centroids.value)

    override def nullSafeEval(input: Any): Any =
      AnnKernel.argmax(cents.cosines(doubles(input, read), cents.all))

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** TWO-LEVEL (hierarchical) nearest-centroid IVF cell id — the
    * O(√nlist × dim) assignment for DERIVED nlist ∝ corpus configs,
    * where [[IvfCell]]'s exact argmax costs nlist × dim per row and
    * turns the whole assignment pass O(n²/cellTarget) (measured 0.55
    * ratio/factor at 100× on e_ndcg_ivf). The first S = ⌈√nlist⌉
    * centroids IN PICK ORDER double as SUPER-centroids (the pick
    * order is already a seeded uniform sample); every centroid joins
    * the group of its nearest super (round-6 cosine argmax, ties →
    * lowest super; a super is pinned to its OWN group so no group is
    * ever empty under round-6 cosine ties between near-parallel
    * supers) — computed once per executor from the broadcast matrix,
    * no extra shipped state. A vector then scores the S supers and
    * only the winning group's members: ~2√nlist × dim multiply-adds
    * per row in expectation. One split level of the inverted
    * multi-index idea (Babenko & Lempitsky, "The Inverted
    * Multi-Index", CVPR 2012). Assignment is APPROXIMATE versus the
    * global argmax (a vector near a group boundary can land one cell
    * over) — but the cells still partition the corpus exactly, which
    * is all IVF recall semantics require; nprobe remains the recall
    * knob. Same 6-decimal grid, accumulation order and tie rules as
    * [[IvfCell]], so the entire two-level walk replays in SQL. */
  case class IvfCellHier(child: Expression,
                         centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]])
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = IntegerType

    @transient private lazy val read = reader(child)
    @transient private lazy val cents = new AnnKernel.Centroids(centroids.value)
    @transient private lazy val supers: Array[Int] = Array.range(0,
      math.max(1, math.ceil(math.sqrt(cents.rows.length.toDouble)).toInt))

    /** member cell ids per super, ascending (so the argmax keeps the
      * lowest cell id on ties); supers pinned to their own group. */
    @transient private lazy val groups: Array[Array[Int]] = {
      val gs = Array.fill(supers.length)(
        scala.collection.mutable.ArrayBuffer.empty[Int])
      cents.all.foreach { c =>
        if (c < supers.length) gs(c) += c // a super owns itself
        else gs(AnnKernel.argmax(
          cents.cosines(cents.rows(c).map(_.toDouble), supers))) += c
      }
      gs.map(_.toArray)
    }

    override def nullSafeEval(input: Any): Any = {
      val x = doubles(input, read)
      val g = groups(AnnKernel.argmax(cents.cosines(x, supers)))
      g(AnnKernel.argmax(cents.cosines(x, g)))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Top-`nprobe` IVF cells for a vector: the cell ids whose BROADCAST
    * centroids score highest by ROUND(cosine, 6), ordered (score desc,
    * cell asc) — the batch twin of driver-side
    * [[graft.sim.Similarity.probeCells]] (both are [[AnnKernel.topN]]
    * over [[IvfCell]]'s scores), evaluated as one JVM loop per row so
    * a query TABLE can be probe-exploded without nlist-ary Column
    * trees; nprobe × nlist comparisons per row. */
  case class IvfProbe(child: Expression,
                      centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
                      nprobe: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    @transient private lazy val read = reader(child)
    @transient private lazy val cents = new AnnKernel.Centroids(centroids.value)

    override def nullSafeEval(input: Any): Any = new GenericArrayData(
      AnnKernel.topN(cents.cosines(doubles(input, read), cents.all), nprobe))

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Product-quantization encoder (Jégou, Douze, Schmid, TPAMI 2011):
    * the vector is split into `codebooks.length` contiguous subspaces;
    * each subspace emits the id of its nearest codebook centroid by
    * squared L2 (ROUND(d², 6), ties → lowest code — [[AnnKernel]]'s
    * rule, so a SQL oracle replays every comparison on the same
    * 6-decimal grid). Output is the m-int code array — the
    * 64-float vector compressed to m bytes of information, the memory
    * play that lets a 100 TB embedding corpus fit an ANN serving tier.
    * One JVM loop, m×k×subdim multiply-adds per row, broadcast
    * codebooks, narrow. [[graft.sim.Similarity.pqEncodeCols]] is the
    * pure-Column twin proven output-identical in SimilaritySpec. */
  case class PqEncode(child: Expression,
                      codebooks: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]])
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    @transient private lazy val read = reader(child)
    @transient private lazy val cbs: Array[Array[Array[Float]]] =
      codebooks.value

    override def nullSafeEval(input: Any): Any = {
      val x = doubles(input, read)
      val out = new Array[Int](cbs.length)
      var off = 0
      var s = 0
      while (s < cbs.length) {
        out(s) = AnnKernel.argmin(AnnKernel.sqL2(x, off, cbs(s)))
        off += cbs(s)(0).length
        s += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Grouped top-k as a MERGEABLE AGGREGATE (TypedImperativeAggregate
    * — the repo's first custom Catalyst aggregate, completing the
    * §2.10 surface next to the 14 scalar expressions): each partition
    * keeps a k-element min-heap of (value, id), partials merge by
    * heap union, eval emits the best-first array. The scale
    * alternative to the window formulation (row_number ≤ k): a window
    * SORTS every group's full row set through one exchange, this
    * aggregate does map-side combine — each partition ships at most k
    * rows per group, the same partial/merge discipline as SaltedAgg's
    * sums, and skewed groups cost O(n log k) CPU instead of a sort's
    * O(n log n) + full-group shuffle bytes.
    *
    * Ordering: value DESC, id ASC on ties — total, so the result is
    * partitioning-invariant (spec-pinned). Null values are skipped.
    * [[graft.sim.Similarity]]-style Column twin: the window
    * formulation itself, proven output-identical in QualitySpec. */
  case class TopKByValue(idExpr: Expression, valueExpr: Expression,
                         k: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
      extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
        java.util.PriorityQueue[(Long, Double)]] {

    require(k >= 1, "k must be >= 1")

    override def children: Seq[Expression] = Seq(idExpr, valueExpr)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("value", DoubleType, nullable = false))),
      containsNull = false)

    // head = WORST kept entry: lowest value, then HIGHEST id
    private def worseFirst: java.util.Comparator[(Long, Double)] =
      (a: (Long, Double), b: (Long, Double)) => {
        val c = java.lang.Double.compare(a._2, b._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      }

    override def createAggregationBuffer()
        : java.util.PriorityQueue[(Long, Double)] =
      new java.util.PriorityQueue[(Long, Double)](k, worseFirst)

    private def offer(buf: java.util.PriorityQueue[(Long, Double)],
                      id: Long, v: Double): Unit = {
      if (buf.size < k) { buf.add((id, v)); () }
      else {
        val worst = buf.peek()
        val better = v > worst._2 || (v == worst._2 && id < worst._1)
        if (better) { buf.poll(); buf.add((id, v)); () }
      }
    }

    override def update(buf: java.util.PriorityQueue[(Long, Double)],
                        input: org.apache.spark.sql.catalyst.InternalRow)
        : java.util.PriorityQueue[(Long, Double)] = {
      val idv = idExpr.eval(input)
      val vv = valueExpr.eval(input)
      if (idv != null && vv != null)
        offer(buf, idv.asInstanceOf[Long], vv.asInstanceOf[Double])
      buf
    }

    override def merge(buf: java.util.PriorityQueue[(Long, Double)],
                       other: java.util.PriorityQueue[(Long, Double)])
        : java.util.PriorityQueue[(Long, Double)] = {
      other.forEach(e => offer(buf, e._1, e._2))
      buf
    }

    override def eval(buf: java.util.PriorityQueue[(Long, Double)]): Any = {
      val arr = new Array[(Long, Double)](buf.size)
      var i = 0
      val it = buf.iterator()
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      // best-first: value DESC, id ASC
      java.util.Arrays.sort(arr, worseFirst.reversed())
      new GenericArrayData(arr.map { case (id, v) =>
        org.apache.spark.sql.catalyst.InternalRow(id, v): Any
      })
    }

    override def serialize(buf: java.util.PriorityQueue[(Long, Double)])
        : Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
      bb.putInt(buf.size)
      buf.forEach { e => bb.putLong(e._1); bb.putDouble(e._2); () }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte])
        : java.util.PriorityQueue[(Long, Double)] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { buf.add((bb.getLong, bb.getDouble)); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKByValue =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKByValue =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): Expression =
      copy(idExpr = cs(0), valueExpr = cs(1))
  }

  /** Portable 31-bit polynomial token hash: fold over code points,
    * h = (h*mult + cp) mod (2^31 - 1). Engine-independent — a DuckDB
    * list_reduce over string_split computes the identical value, which is
    * what makes the simhash query oracle-checkable cross-engine. */
  private[graft] def polyHash(s: UTF8String, mult: Long): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b >= 0) { // ASCII fast path: byte == code point, no decode
        h = (h * mult + b) % 2147483647L
        i += 1
      } else { // non-ASCII tail: decode code points (matches SQL ascii())
        val str = UTF8String.fromBytes(bytes, i, bytes.length - i).toString
        var k = 0
        while (k < str.length) {
          val cp = str.codePointAt(k)
          h = (h * mult + cp) % 2147483647L
          k += Character.charCount(cp)
        }
        i = bytes.length
      }
    }
    h
  }

  /** 62-bit portable SimHash over an array of string tokens: two
    * independent 31-bit polynomial hashes per token (multipliers 31/131),
    * per-bit ±1 votes, sign of the vote sets the bit. Bits 0..30 come
    * from hash1, bits 31..61 from hash2; bits 62-63 are always 0.
    * Fully reproducible in ANSI-ish SQL (no engine hash builtins), so the
    * DuckDB oracle recomputes it exactly — see `t_simhash` in
    * graft.queries.TextQueries. */
  case class PortableSimHash(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](62)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val h1 = polyHash(s, 31L)
          val h2 = polyHash(s, 131L)
          var j = 0
          while (j < 31) {
            if (((h1 >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            if (((h2 >>> j) & 1L) == 1L) votes(31 + j) += 1 else votes(31 + j) -= 1
            j += 1
          }
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 62) {
        if (votes(j) > 0) out |= (1L << j)
        j += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Exact comparison of two products of NON-NEGATIVE longs via
    * 128-bit arithmetic (Math.multiplyHigh + unsigned low-word
    * compare) — sign of (a·b − c·d) without overflow. */
  private[graft] def cmpProd128(a: Long, b: Long,
                                c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  /** 62-bit average-hash (aHash) over an opaque binary payload — the
    * perceptual-dedup fingerprint for MEDIA columns: the byte stream
    * is cut into 62 equal spans (block k = bytes [k·n/62, (k+1)·n/62)
    * — integer bounds, so a SQL engine slices the identical spans),
    * and bit k is set iff block k's mean byte value exceeds the
    * payload's overall mean. The compare is CROSS-MULTIPLIED integer
    * arithmetic (blockSum·n > totalSum·blockCount) — no division, no
    * doubles, nothing to round: exact in any engine. On real decoded
    * pixel rows this is the classic aHash (the blocks are the
    * downsampled grid); on the stubbed payloads it is the same
    * structure over raw bytes. 62 bits (not 64) keeps the value
    * positive in a signed BIGINT on every engine — the
    * [[PortableSimHash]] convention, and the two fingerprints share
    * banding/hamming helpers. Empty payload → 0. One pass, O(n).
    *
    * The cross-multiplied compare runs through an exact 128-bit
    * product ([[cmpProd128]]) — a plain long product wraps once
    * 255·n²/62 > 2⁶³ (payloads past ~1.5 GB, a realistic raw-video
    * blob) and would silently flip hash bits (ADVICE r11). */
  case class AHash62(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      val n = bytes.length
      if (n == 0) return 0L
      var total = 0L
      var i = 0
      while (i < n) { total += (bytes(i) & 0xFF); i += 1 }
      var out = 0L
      var k = 0
      while (k < 62) {
        val lo = k.toLong * n / 62
        val hi = (k + 1).toLong * n / 62
        var bs = 0L
        var j = lo.toInt
        while (j < hi) { bs += (bytes(j) & 0xFF); j += 1 }
        // blockMean > overallMean, cross-multiplied exactly (empty
        // block: 0 > 0 is false)
        if (cmpProd128(bs, n.toLong, total, hi - lo) > 0)
          out |= (1L << k)
        k += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Near-dup normalization collapse: on ALREADY-LOWERCASED text, replace
    * every run of characters outside [a-z0-9] with a single space and
    * trim — byte-level, one pass. Exactly equivalent to
    * regexp_replace(regexp_replace(x, "[^a-z0-9]+", " "), " +", " ") + trim
    * (any non-ASCII char is non-[a-z0-9]; each of its UTF-8 bytes is
    * >= 0x80 and folds into the same space run). Callers compose
    * lower() upstream (codegen'd) so Unicode lowercasing semantics stay
    * Spark's. */
  case class NormalizeSpaces(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].getBytes
      val out = new Array[Byte](s.length)
      var o = 0
      var pendingSpace = false
      var i = 0
      while (i < s.length) {
        val b = s(i)
        val keep = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
        if (keep) {
          if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
          pendingSpace = false
          out(o) = b; o += 1
        } else pendingSpace = true
        i += 1
      }
      UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Unicode NFC normalization (canonical decomposition + canonical
    * composition) — the text-canonicalization step exact dedup needs
    * BEFORE hashing: "café" with a precomposed é and "café" with
    * e+U+0301 are byte-different, hash to different keys, and defeat
    * every content-hash dedup until both are brought to the same
    * canonical form. Delegates to the JDK's Normalizer (Unicode NFC;
    * independently implemented by DuckDB's nfc_normalize via utf8proc
    * — the oracle is a genuine cross-implementation check, not a
    * replay). NFC, not NFKC: compatibility folding (ﬁ → fi) is lossy
    * and belongs in an explicit quality pass, not canonicalization.
    *
    * No pure-Column twin exists (Spark has no normalization builtin —
    * the usual twin obligation is discharged by the DuckDB oracle +
    * a JDK-reference spec). ASCII fast path: a pure-ASCII string is
    * already NFC; Normalizer.isNormalized's quick check skips the
    * decompose/recompose allocation for the common case, so corpus
    * scans pay ~one byte scan per clean document. */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType

    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s,
          java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.NFC))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Binary payload → string in a FIXED JDK charset (Shift_JIS,
    * EUC-KR, GBK, Big5, ... — the CJK crawl head, r19 verdict #5):
    * Spark's built-in `decode` rejects any charset outside its
    * non-legacy whitelist (US-ASCII, ISO-8859-1, UTF-8/16/32),
    * and flipping the session-wide legacy flag would change decode
    * semantics everywhere. Semantics match `new String(bytes, cs)` —
    * malformed/unmappable sequences become U+FFFD, exactly the
    * built-in decode's REPLACE behavior, so mixed-validity crawl
    * payloads decode deterministically instead of throwing. The
    * charset resolves ONCE at plan time (unknown names fail analysis
    * loudly, not per row). */
  case class DecodeCharset(child: Expression, charsetName: String)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = StringType

    @transient private lazy val cs =
      java.nio.charset.Charset.forName(charsetName)

    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        new String(input.asInstanceOf[Array[Byte]], cs))

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** |a ∩ b| of two string arrays in ONE hash-set pass: build from the
    * smaller side, probe with the larger, full string equality on probe
    * (no hash-collision risk). Counts DISTINCT common elements with the
    * same null-element semantics as `size(array_intersect(a, b))` —
    * output-identical on non-null arrays (PropertySpec twin check; for
    * a NULL array input this returns null where size() would wrap
    * array_intersect's null to legacy -1, matching DuckDB's
    * len(list_intersect) = NULL). Spark's ArrayIntersect takes its
    * specialized hash-set path only for primitive element types; on
    * string arrays it adds per-element overhead this one tight loop
    * avoids. Measured on the 206k cached candidate pairs of
    * Dedup.jaccardSimilarityJoin's verify stage at sf0.1 (~52-shingle
    * sets): naive intersect+2×union filter 0.8-1.4 s, derived-union
    * size(array_intersect) 0.5 s, this expression 0.2 s. Consumers
    * must bind the count once (Dedup.jaccard's transform-lambda) —
    * CodegenFallback means no codegen CSE, so a when-tree referencing
    * it twice pays the hash-set pass twice per operator. */
  case class IntersectSize(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = IntegerType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val (build, probe) =
        if (xs.numElements() <= ys.numElements()) (xs, ys) else (ys, xs)
      val nb = build.numElements()
      val np = probe.numElements()
      val set = new java.util.HashSet[UTF8String](nb * 2)
      var buildHasNull = false
      var i = 0
      while (i < nb) {
        if (build.isNullAt(i)) buildHasNull = true
        else set.add(build.getUTF8String(i))
        i += 1
      }
      var c = 0
      var nullCounted = false
      i = 0
      while (i < np) {
        if (probe.isNullAt(i)) {
          // array_intersect keeps one null iff both sides contain null
          if (buildHasNull && !nullCounted) { c += 1; nullCounted = true }
        } else if (set.remove(probe.getUTF8String(i))) c += 1
        i += 1
      }
      c
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Sorted DISTINCT 31-bit polynomial hashes of a string array — the
    * ENGINE-PORTABLE projection for persisted dedup state (an index
    * outlives any one engine's hash function, so murmur3/xxhash64 are
    * out): hash = fold over code points of (acc·31 + cp) mod (2³¹−1),
    * the same [[polyHash]] the portable simhash uses, recomputable in
    * SQL as a `list_reduce` (the `t_simhash`/`t_lsh_index_probe`
    * oracles do). Output sorted ascending for [[SortedJaccardGe]] and
    * set-distinct so hashed Jaccard is SET Jaccard on both engines.
    * One pass + one sort per row; [[graft.text.Dedup.polyHashedShinglesCols]]
    * is the Column twin (TextSpec). */
  case class PolyHashSet(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val set = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) set.add(polyHash(arr.getUTF8String(i), 31L))
        i += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Can two SORTED long arrays reach Jaccard ≥ threshold? One merge
    * walk with early exit: at each step the best still-achievable
    * intersection is inter + min(remaining_a, remaining_b), and
    * J = i/(|a|+|b|−i) is increasing in i, so once the optimistic bound
    * drops below the threshold the walk stops — a far-below-threshold
    * pair (the boilerplate-clique regime, BENCH_SF1.md) is rejected
    * after long comparisons only, never paying the string hash-set
    * verify. On duplicate values (64-bit collisions within one array)
    * the walk counts Σ_v min(cnt_a(v), cnt_b(v)) ≥ the true shared-
    * element count, so used over hashed shingle arrays the answer is
    * a SUPERSET screen: false can never hide a qualifying string pair
    * (twin + property proofs in TextSpec). Inputs MUST be sorted
    * ascending ([[graft.text.Dedup.hashedShingles]] guarantees it);
    * unsorted input under-counts and is a caller bug. */
  case class SortedJaccardGe(left: Expression, right: Expression,
                             threshold: Double)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = BooleanType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val na = xs.numElements()
      val nb = ys.numElements()
      if (na == 0 && nb == 0) return true // over-admit 0/0; verify decides
      var i = 0
      var j = 0
      var inter = 0
      var ok = true
      var done = false
      while (!done && i < na && j < nb) {
        val best = inter + math.min(na - i, nb - j)
        if (best.toDouble < threshold * (na + nb - best)) {
          ok = false; done = true
        } else {
          val x = xs.getLong(i)
          val y = ys.getLong(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
      }
      if (!done) ok = inter.toDouble >= threshold * (na + nb - inter)
      ok
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Jaro similarity over raw UTF-8 BYTES, semantics pinned to DuckDB's
    * `jaro_similarity` (verified probe-by-probe against DuckDB 1.x so the
    * oracle is a genuine cross-implementation check):
    *
    *   - byte-level, not codepoint-level ("aéb" vs "aéc" scores as
    *     4-byte strings — DuckDB/rapidfuzz do the same; for ASCII
    *     corpora the two views coincide);
    *   - match window = max(|s|,|t|)/2 − 1, clamped to ≥ 0 (so equal
    *     1-byte strings still match, and "ab" vs "ba" is 0.0);
    *   - transpositions = (# matched positions whose byte sequences
    *     disagree) / 2 with INTEGER division (a 3-mismatch rotation
    *     counts 1, not 1.5 — probed: jaro("abcdefgh","bcadefgh") =
    *     0.9583…, the integer-halving value);
    *   - either side empty → 0.0 (both-empty included — DuckDB's
    *     convention, not the textbook 1.0);
    *   - sum order (m/|s| + m/|t| + (m−t)/m) / 3, matching DuckDB's
    *     accumulation bit-for-bit on every probe.
    *
    * Greedy left-to-right matching with a used-flag array is inherently
    * sequential state — not expressible in builtin HOFs, so (like
    * [[NfcNormalize]]) the twin obligation is discharged by the DuckDB
    * oracle plus hand-computed reference cases in the spec. O(|s|·w)
    * time, two small boolean scratch arrays per row, no allocation
    * proportional to the corpus: safe in a blocked fuzzy join's inner
    * loop. */
  private[functions] def jaroBytes(s: Array[Byte], t: Array[Byte]): Double = {
    val n = s.length
    val m = t.length
    if (n == 0 || m == 0) return 0.0
    val window = math.max(math.max(n, m) / 2 - 1, 0)
    val sMatch = new Array[Boolean](n)
    val tMatch = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val hi = math.min(m - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (!found && j <= hi) {
        if (!tMatch(j) && s(i) == t(j)) {
          sMatch(i) = true; tMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var raw = 0
    var k = 0
    i = 0
    while (i < n) {
      if (sMatch(i)) {
        while (!tMatch(k)) k += 1
        if (s(i) != t(k)) raw += 1
        k += 1
      }
      i += 1
    }
    val mm = matches.toDouble
    val trans = (raw / 2).toDouble
    (mm / n + mm / m + (mm - trans) / mm) / 3.0
  }

  private[functions] def jaroWinklerBytes(s: Array[Byte], t: Array[Byte],
                                          winkler: Boolean): Double = {
    val sim = jaroBytes(s, t)
    if (!winkler || sim <= 0.7) sim
    else {
      val cap = math.min(4, math.min(s.length, t.length))
      var l = 0
      while (l < cap && s(l) == t(l)) l += 1
      sim + (l * 0.1) * (1.0 - sim)
    }
  }

  /** String entry point for spec brute-force baselines (same math as
    * the expression — independence is provided by the DuckDB oracle,
    * not by this helper). */
  def jaroWinklerRef(a: String, b: String): Double =
    jaroWinklerBytes(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8), winkler = true)

  /** Jaro or Jaro–Winkler similarity of two strings (see [[jaroBytes]]
    * for the pinned byte-level semantics). With `winkler = true` the
    * Winkler prefix boost is applied exactly as DuckDB does: common
    * BYTE prefix capped at 4, scale 0.1, and only when the base Jaro
    * strictly exceeds 0.7 (probed: jaro 0.6 with a 4-byte shared prefix
    * gets NO boost) — `sim + (l·0.1)·(1−sim)`. */
  case class JaroSimilarityExpr(left: Expression, right: Expression,
                                winkler: Boolean)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any =
      jaroWinklerBytes(a.asInstanceOf[UTF8String].getBytes,
        b.asInstanceOf[UTF8String].getBytes, winkler)

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** round(x, 6)·10⁶ as an exact boxed long — the PCA family's
    * micro-quantization chain (`round(c, 6).cast("decimal(18,6)") *
    * 1000000 → long`) fused into one operation with a guarded fast
    * path. Semantics are BIT-IDENTICAL to the Column chain: HALF_UP
    * on the SHORTEST decimal representation of x (Spark's Round double
    * branch = BigDecimal.valueOf), null for NaN/±Inf and for values
    * that overflow decimal(18,6) (precision > 18 after rounding, the
    * non-ANSI cast-null). The fast path fires only when x·10⁶ is
    * clearly away from a .5 rounding boundary — farther than the
    * combined error of the scaling multiply and the shortest-repr
    * gap (≤ ~1.5 ulp; the guard uses 4 ulp + 1e-9) — where
    * nearest-integer and decimal-string HALF_UP provably agree;
    * boundary-adjacent values take the exact BigDecimal path. */
  def round6Micro(x: Double): java.lang.Long = {
    if (x.isNaN || x.isInfinite) return null
    val y = x * 1e6
    if (math.abs(y) < 4.5e15) { // well under 2^52: frac is meaningful
      val f = math.floor(y)
      val frac = y - f
      if (math.abs(frac - 0.5) > 4 * math.ulp(y) + 1e-9)
        return java.lang.Long.valueOf(math.floor(y + 0.5).toLong)
    }
    val bd = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 18) null
    else java.lang.Long.valueOf(bd.unscaledValue.longValue)
  }

  /** The PCA/CKA corpus moment vector of one embedding row: a flat
    * array of d + d·(d+1)/2 micro-unit longs — the d per-dim round-6
    * values followed by the upper-triangle products round(xᵢ·xⱼ, 6)·10⁶
    * in (i ≤ j) row-major order — computed in ONE tight primitive loop
    * per row. The Column twin (transform/slice/flatten over the same
    * [[round6Micro]] chain) is interpreted per element with 5 boxed
    * decimal intermediates each — measured ~1.25 µs/element, the whole
    * wall of the PCA-family bench queries; this is the same math at
    * ~30 ns/element. Null elements produce null sums/products exactly
    * as the Column chain's null-propagating round does. */
  case class PcaTriangleMicros(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = true)

    @transient private lazy val read = reader(child)

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val d = a.numElements()
      val xs = new Array[Double](d)
      val isNull = new Array[Boolean](d)
      var i = 0
      while (i < d) {
        if (a.isNullAt(i)) isNull(i) = true else xs(i) = read(a, i)
        i += 1
      }
      val m = d + d * (d + 1) / 2
      val out = new Array[Long](m)
      var nulls: Array[Boolean] = null
      def put(k: Int, value: java.lang.Long): Unit =
        if (value eq null) {
          if (nulls == null) nulls = new Array[Boolean](m)
          nulls(k) = true
        } else out(k) = value.longValue()
      i = 0
      while (i < d) {
        put(i, if (isNull(i)) null else round6Micro(xs(i)))
        i += 1
      }
      var k = d
      i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          put(k, if (isNull(i) || isNull(j)) null
            else round6Micro(xs(i) * xs(j)))
          k += 1; j += 1
        }
        i += 1
      }
      if (nulls == null)
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(out)
      else {
        val boxed = new Array[Any](m)
        var p = 0
        while (p < m) {
          if (!nulls(p)) boxed(p) = out(p)
          p += 1
        }
        new GenericArrayData(boxed)
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Row-local chrF gram statistics (Popović 2015): for each
    * character-gram order n ∈ 1..maxN over the SPACE-STRIPPED
    * candidate/reference pair, the exact clipped-match count
    * mₙ = Σ_gram min(cand, ref) and both totals (tcₙ, trₙ) — the
    * whole per-document substrate of the chrF metric computed in ONE
    * per-row pass, because chrF is a per-document metric whose two
    * sides live in the SAME row: the former (doc, ord, gram)
    * explode → two hash aggs → gram-keyed join shape shuffled
    * ~chars×maxN×2 gram rows per corpus (8.2 s of bench wall at
    * sf0.1) to compute a row-local function. Zero exchanges here;
    * the cost is a bounded-suffix sort per side per row.
    *
    * Semantics pinned to the former plan and the SQL replay:
    *  - grams are over UNICODE CODE POINTS (Spark `substring` and
    *    DuckDB `substring` are both codepoint-based, not UTF-16);
    *  - stripping removes ONLY U+0020 (`translate(s, " ", "")` /
    *    `replace(s, ' ', '')` — never a \\s class);
    *  - totals are plain gram counts: tcₙ = max(0, |cand| − n + 1).
    *
    * Algorithm: per side, ONE index sort ordered by the first maxN
    * codepoints of each suffix (shorter-prefix-first), valid for
    * every order n ≤ maxN at once; per order, a two-pointer run
    * merge over the shared orderings accumulates min(runC, runR)
    * per distinct gram — no per-gram string is ever materialized.
    *
    * @return array of maxN structs (m, tc, tr), index n−1 = order n */
  case class ChrfGramStats(left: Expression, right: Expression,
                           maxN: Int)
      extends BinaryExpression with CodegenFallback {
    require(maxN >= 1, "maxN must be >= 1")

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("m", LongType, nullable = false),
      StructField("tc", LongType, nullable = false),
      StructField("tr", LongType, nullable = false))),
      containsNull = false)

    private def stripCodePoints(u: UTF8String): Array[Int] = {
      val s = u.toString
      val out = new Array[Int](s.codePointCount(0, s.length))
      var i = 0; var k = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        if (cp != 0x20) { out(k) = cp; k += 1 }
        i += Character.charCount(cp)
      }
      if (k == out.length) out else java.util.Arrays.copyOf(out, k)
    }

    // suffix order bounded at maxN codepoints; a suffix shorter than
    // the comparison window sorts before its extensions, so for any
    // order n the valid suffixes (start ≤ len − n) of one gram value
    // stay contiguous
    private def sortedSuffixes(a: Array[Int]): Array[Int] = {
      val idx = Array.tabulate[Integer](a.length)(Int.box(_))
      java.util.Arrays.sort(idx, (x: Integer, y: Integer) => {
        var i = x.intValue; var j = y.intValue; var k = 0
        var r = 0
        while (r == 0 && k < maxN) {
          val ie = i >= a.length; val je = j >= a.length
          r = if (ie && je) 0 else if (ie) -1 else if (je) 1
            else Integer.compare(a(i), a(j))
          i += 1; j += 1; k += 1
        }
        r
      })
      val out = new Array[Int](a.length)
      var p = 0
      while (p < a.length) { out(p) = idx(p).intValue; p += 1 }
      out
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val c = stripCodePoints(a.asInstanceOf[UTF8String])
      val r = stripCodePoints(b.asInstanceOf[UTF8String])
      val sc = sortedSuffixes(c)
      val sr = sortedSuffixes(r)
      def cmp(x: Int, y: Int, n: Int): Int = {
        // both args are VALID starts for order n (x ≤ len − n)
        var i = 0; var res = 0
        while (res == 0 && i < n) {
          res = Integer.compare(c(x + i), r(y + i)); i += 1
        }
        res
      }
      def runLen(arr: Array[Int], src: Array[Int], from: Int,
                 lim: Int, n: Int): Int = {
        // count equal-gram run in the suffix order starting at `from`
        // (entries past lim = len − n are skipped by the caller)
        var e = from + 1
        var go = true
        while (go && e < arr.length) {
          val s0 = arr(from); val s1 = arr(e)
          if (s1 > lim) { e += 1 } // invalid for this order: skip
          else {
            var i = 0; var eq = true
            while (eq && i < n) {
              eq = src(s0 + i) == src(s1 + i); i += 1
            }
            if (eq) e += 1 else go = false
          }
        }
        e
      }
      val rows = new Array[Any](maxN)
      var n = 1
      while (n <= maxN) {
        val limC = c.length - n; val limR = r.length - n
        val tc = math.max(0, c.length - n + 1).toLong
        val tr = math.max(0, r.length - n + 1).toLong
        var m = 0L
        var i = 0; var j = 0
        while (i < sc.length && sc(i) > limC) i += 1
        while (j < sr.length && sr(j) > limR) j += 1
        while (i < sc.length && j < sr.length) {
          val d = cmp(sc(i), sr(j), n)
          if (d < 0) {
            i += 1; while (i < sc.length && sc(i) > limC) i += 1
          } else if (d > 0) {
            j += 1; while (j < sr.length && sr(j) > limR) j += 1
          } else {
            val ei = runLen(sc, c, i, limC, n)
            val ej = runLen(sr, r, j, limR, n)
            var cc = 0L; var rc = 0L
            var p = i
            while (p < ei) { if (sc(p) <= limC) cc += 1; p += 1 }
            p = j
            while (p < ej) { if (sr(p) <= limR) rc += 1; p += 1 }
            m += math.min(cc, rc)
            i = ei; while (i < sc.length && sc(i) > limC) i += 1
            j = ej; while (j < sr.length && sr(j) > limR) j += 1
          }
        }
        rows(n - 1) =
          org.apache.spark.sql.catalyst.InternalRow(m, tc, tr)
        n += 1
      }
      new GenericArrayData(rows)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // ---- Column API (classic bridge: Column <-> catalyst Expression) ----

  private def expr(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
  private def toCol(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)

  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSimilarity(expr(a), expr(b)))

  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(expr(a), expr(b)))

  def pca_triangle_micros(v: Column): Column =
    toCol(PcaTriangleMicros(expr(v)))

  def chrf_gram_stats(cand: Column, ref: Column, maxN: Int): Column =
    toCol(ChrfGramStats(expr(cand), expr(ref), maxN))

  def minhash_signature(shingles: Column, numHashes: Int): Column =
    toCol(MinHashSignature(expr(shingles), numHashes))

  def word_shingles(text: Column, n: Int): Column =
    toCol(WordShingles(expr(text), n))

  def bpe_fuse(arr: Column, left: String, right: String): Column =
    toCol(BpeFuse(expr(arr), left, right))

  def portable_simhash(tokens: Column): Column =
    toCol(PortableSimHash(expr(tokens)))

  def normalize_spaces(lowercased: Column): Column =
    toCol(NormalizeSpaces(expr(lowercased)))

  def intersect_size(a: Column, b: Column): Column =
    toCol(IntersectSize(expr(a), expr(b)))

  def nfc_normalize(s: Column): Column =
    toCol(NfcNormalize(expr(s)))

  def decode_charset(payload: Column, charsetName: String): Column = {
    // resolve NOW: a typo'd charset must fail at plan construction,
    // not inside an executor task
    java.nio.charset.Charset.forName(charsetName)
    toCol(DecodeCharset(expr(payload), charsetName))
  }

  def sorted_jaccard_ge(a: Column, b: Column, threshold: Double): Column =
    toCol(SortedJaccardGe(expr(a), expr(b), threshold))

  def jaro_sim(a: Column, b: Column): Column =
    toCol(JaroSimilarityExpr(expr(a), expr(b), winkler = false))

  def jaro_winkler_sim(a: Column, b: Column): Column =
    toCol(JaroSimilarityExpr(expr(a), expr(b), winkler = true))

  def poly_hash_set(a: Column): Column =
    toCol(PolyHashSet(expr(a)))

  def ahash62(payload: Column): Column =
    toCol(AHash62(expr(payload)))

  def srp_buckets(vec: Column, nPlanes: Int, seeds: Seq[Int]): Column =
    toCol(SrpBuckets(expr(vec), nPlanes, seeds))

  def ivf_cell(vec: Column,
               centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]])
      : Column =
    toCol(IvfCell(expr(vec), centroids))

  def ivf_cell_hier(vec: Column,
                    centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]])
      : Column =
    toCol(IvfCellHier(expr(vec), centroids))

  def ivf_probe(vec: Column,
                centroids: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
                nprobe: Int): Column =
    toCol(IvfProbe(expr(vec), centroids, nprobe))

  def pq_encode(vec: Column,
                codebooks: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]])
      : Column =
    toCol(PqEncode(expr(vec), codebooks))

  def top_k_by_value(id: Column, value: Column, k: Int): Column =
    toCol(TopKByValue(expr(id), expr(value), k).toAggregateExpression())

  /** (name, builder) for every SQL-surfaced native function. */
  private[functions] val sqlFunctions
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es.head, es(1))),
    "dot_product" -> (es => DotProduct(es.head, es(1))),
    "portable_simhash" -> (es => PortableSimHash(es.head)),
    "ahash62" -> (es => AHash62(es.head)),
    "normalize_spaces" -> (es => NormalizeSpaces(es.head)),
    "intersect_size" -> (es => IntersectSize(es.head, es(1))),
    "nfc_normalize" -> (es => NfcNormalize(es.head)),
    "jaro_sim" -> (es => JaroSimilarityExpr(es.head, es(1), winkler = false)),
    "jaro_winkler_sim" ->
      (es => JaroSimilarityExpr(es.head, es(1), winkler = true)),
    "poly_hash_set" -> (es => PolyHashSet(es.head)))

  /** Register for the SQL surface of THIS session: callable from
    * spark.sql / SqlRunner. Sessions derived via newSession() (e.g. the
    * Thrift server's per-connection sessions) build FRESH state and do
    * NOT see these — configure [[GraftExtensions]] on the builder
    * (`spark.sql.extensions=graft.functions.GraftExtensions`) to make
    * the functions part of every session's state (verified end-to-end
    * in JdbcServerSpec over a fresh hive-jdbc connection). */
  /** Ownership stamp carried in each registration's ExpressionInfo
    * className — shared by [[GraftExtensions]] injection and
    * [[registerAll]] so either path can verify PER NAME that the
    * registry entry is graft's, not a foreign shadow. */
  private[functions] val ownerClass: String =
    NativeExpressions.getClass.getCanonicalName

  def registerAll(spark: SparkSession): Unit = {
    // single-owner registration, decided by probing the REGISTRY per
    // name (r15 ADVICE): the earlier conf-marker + extensions-substring
    // gate had two holes — (a) a post-registration DROP/CREATE OR
    // REPLACE of a graft name won forever because the marker made
    // every later registerAll a no-op, and (b) a configured-but-
    // unloadable GraftExtensions class (classpath miss: Spark logs and
    // skips) left the conf set while the registry held nothing, so
    // registerAll declined and the functions were silently absent.
    // The registry itself is the single source of truth: a name whose
    // ExpressionInfo className is `ownerClass` is graft's (extensions
    // injection and this path both stamp it) → skip, no replace
    // warning; a missing OR foreign-stamped name is (re)registered —
    // a foreign same-named temp function must never silently shadow
    // the semantics every oracle-parity query depends on, and THAT
    // replace legitimately warns.
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      val ours = reg.lookupFunction(fid).exists(_.getClassName == ownerClass)
      if (!ours) reg.registerFunction(fid,
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          ownerClass, name), builder)
    }
  }
}

/** SparkSessionExtensions hook: injects the graft native functions into
  * EVERY session built over a context configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` — including
  * sessions the Thrift/JDBC server derives per connection, which build
  * fresh state and never see session-level temp functions. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    NativeExpressions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          NativeExpressions.ownerClass, name),
        builder))
    }
}
