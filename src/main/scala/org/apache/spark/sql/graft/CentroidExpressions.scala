package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Row-local nearest-centroid selection: for one embedding row, rank a
  * small driver-side centroid table by cosine similarity and return the
  * top-`n` centroid ids. This is THE centroid-assignment primitive for
  * k-means / IVF / SemDeDup — a pure projection over the scan.
  *
  * Why an expression and not `crossJoin(broadcast(centroids)) +
  * row_number().over(partitionBy(id))`: that shape materializes
  * corpus×k rows (vectors included) and moves them through an Exchange
  * just to pick each row's argmax. At 100 TB with k in the 10³-10⁵
  * range the exchange is petabytes of pure overhead — the argmax needs
  * no data from any OTHER row. Here the centroids ride along as plain
  * Java arrays inside the expression (k×dim doubles, the same driver
  * materialization the broadcast already required), the scan stays a
  * zero-exchange projection, and whole-stage codegen is preserved (the
  * generated code calls [[select]], a tight primitive loop — the
  * VectorDotProduct pattern).
  *
  * Ranking contract (bit-compatible with the replaced window
  * `orderBy(cosine.desc, cid.asc)` over [[VectorCosineSimilarity]]):
  *   - cosine accumulates dot and the two squared norms sequentially
  *     left-to-right, `denom = sqrt(|v|²) * sqrt(|c|²)`, same FP order;
  *   - a null similarity (zero-norm or length-mismatched vector pair)
  *     ranks BELOW every real similarity (the window's NULLS LAST
  *     under DESC); real cosine is within [-1, 1] so -Infinity is a
  *     safe sentinel;
  *   - ties break by smallest cid;
  *   - NaN (possible only from non-finite embedding values) ranks
  *     ABOVE every real value, matching Spark's double ordering.
  *
  * `cids`/`centroids` are Seqs, not Arrays, so case-class equality is
  * structural and plan canonicalization (exchange reuse, subexpression
  * elimination) still recognizes two identical assignments.
  */
case class NearestCentroidIds(child: Expression, cids: Seq[Long],
                              centroids: Seq[Seq[Double]], n: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(cids.length == centroids.length && cids.nonEmpty,
    s"cids (${cids.length}) and centroids (${centroids.length}) must be " +
      "equal-length and non-empty")
  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_centroid_ids"

  // hot-path views of the centroid table, rebuilt lazily per executor
  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val centNorm: Array[Double] =
    NearestCentroidIds.norms(centArr)

  /** Rank all k centroids against one vector, return the top-n cids.
    * Called per row from both interpreted eval and the generated code.
    */
  def select(v: ArrayData): ArrayData = {
    val sims = NearestCentroidIds.similarities(v, centArr, centNorm)
    // partial selection sort: n is small (1 for argmax, nProbe for IVF
    // probes), k is bounded by the centroid table — O(n*k), no alloc
    // beyond the output
    val k = cidArr.length
    val keep = math.min(n, k)
    val idx = new Array[Int](k)
    var t = 0
    while (t < k) { idx(t) = t; t += 1 }
    val out = new Array[Long](keep)
    var r = 0
    while (r < keep) {
      var best = r
      var s = r + 1
      while (s < k) {
        if (NearestCentroidIds.ahead(sims(idx(s)), cidArr(idx(s)),
              sims(idx(best)), cidArr(idx(best)))) best = s
        s += 1
      }
      val tmp = idx(r); idx(r) = idx(best); idx(best) = tmp
      out(r) = cidArr(idx(r))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    select(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the expression instance itself is the reference object: the
    // generated code calls select(), keeping the k-loop in compiled
    // Scala while the surrounding operators stay in whole-stage codegen
    val self = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroidIds].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.select($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidIds =
    copy(child = newChild)
}

object NearestCentroidIds {

  private[graft] def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { cv =>
      var s = 0.0; var j = 0
      while (j < cv.length) { s += cv(j) * cv(j); j += 1 }
      math.sqrt(s)
    }

  /** The cosine of `v` against every centroid, in table order, with a
    * null similarity as -Infinity (the ranking contract above).
    */
  private[graft] def similarities(v: ArrayData, cents: Array[Array[Double]],
                                  norms: Array[Double]): Array[Double] = {
    val dim = v.numElements()
    var vn = 0.0
    var j = 0
    while (j < dim) { val x = v.getDouble(j); vn += x * x; j += 1 }
    val vnorm = math.sqrt(vn)
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != dim) sims(c) = Double.NegativeInfinity
      else {
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v.getDouble(i) * cv(i); i += 1 }
        val denom = vnorm * norms(c)
        sims(c) =
          if (denom == 0.0) Double.NegativeInfinity else dot / denom
      }
      c += 1
    }
    sims
  }

  /** True when (similarity `sa`, cid `ca`) ranks strictly before
    * (`sb`, `cb`): higher similarity first, NaN above every value, ties
    * to the smaller cid.
    */
  private[graft] def ahead(sa: Double, ca: Long, sb: Double, cb: Long): Boolean = {
    val cmp = java.lang.Double.compare(sa, sb)
    cmp > 0 || (cmp == 0 && ca < cb)
  }
}

object CentroidExpressions {

  /** Top-`n` nearest centroid ids (cosine desc, cid asc) of a
    * double-array column against a driver-side (cid, vector) table, as
    * an `array<long>` — zero joins, zero exchanges.
    */
  def nearestCentroidIds(v: Column, cents: Array[(Long, Array[Double])],
                         n: Int): Column =
    ExpressionUtils.column(NearestCentroidIds(
      ExpressionUtils.expression(v.cast(ArrayType(DoubleType))),
      cents.map(_._1).toSeq, cents.map(_._2.toSeq).toSeq, n))

  /** The distinct cids among the first `n` (query, centroid) pairs, all
    * pairs ranked under [[NearestCentroidIds]]'s contract — the probe set
    * `cents.crossJoin(queries).orderBy(cosine.desc, cid).limit(n)`
    * selects, computed on the driver. A null query vector pairs every
    * centroid at a null similarity; no queries or no centroids probe
    * nothing. It is the one driver-side centroid rank: `IvfIndex.topK`,
    * `Similarity.ivfTopK` and `Similarity.ivfPqTopK` all probe with it.
    */
  def probedCids(queries: Seq[Array[Double]], cents: Array[(Long, Array[Double])],
                 n: Int): Array[Long] = {
    val centArr = cents.map(_._2)
    val norms = NearestCentroidIds.norms(centArr)
    queries.flatMap { q =>
      val sims =
        if (q == null) Array.fill(cents.length)(Double.NegativeInfinity)
        else NearestCentroidIds.similarities(new GenericArrayData(q), centArr, norms)
      sims.indices.map(c => (sims(c), cents(c)._1))
    }.sortWith { case ((sa, ca), (sb, cb)) => NearestCentroidIds.ahead(sa, ca, sb, cb) }
      .take(n).map(_._2).distinct.toArray
  }

  /** The single nearest centroid id (argmax) — the k-means / IVF /
    * SemDeDup assignment projection.
    */
  def nearestCentroidId(v: Column, cents: Array[(Long, Array[Double])]): Column =
    org.apache.spark.sql.functions.element_at(nearestCentroidIds(v, cents, 1), 1)
}
