package graft.pipeline

import graft.core.Tombstones
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF coarse-quantizer model: a flat centroid table, plus — when
  * trained hierarchically — the L1 (first-level) centroids and each L1
  * cell's flat-centroid children, so per-row assignment can DESCEND
  * the two levels (nearest L1 cell, then only its children: O(√nlist)
  * dots) instead of scanning all nlist centroids. Under the semDedup
  * contract nlist grows proportionally with the corpus, so flat
  * per-row assignment cost grows with corpus size too — O(n·nlist·dim)
  * total, effectively quadratic; the descent keeps the full-corpus
  * assign scan at O(n·√nlist·dim).
  *
  * All selection rules are deterministic (dot descending, ties to the
  * smaller index; sequential-double accumulation), so any engine — the
  * Python oracle included — replays assignments bit-for-bit.
  */
final case class IvfModel(centroids: Array[Array[Float]],
                          l1: Array[Array[Float]],
                          children: Array[Array[Int]]) extends Serializable {
  def nlist: Int = centroids.length

  def hierarchical: Boolean = l1.nonEmpty

  /** ids of the `n` centroids nearest to `v` by dot product, over the
    * FLAT table (all nlist centroids scanned).
    */
  def nearest(v: Array[Float], n: Int): Array[Int] =
    IvfModel.topNByDot(centroids, null, v, n)

  /** ids of `n` near centroids via hierarchical descent: rank the L1
    * cells, then walk them best-first collecting their children until
    * at least `n` candidates AND at least 2 cells are in (the second
    * cell is a deliberate boundary oversample: a vector between two L1
    * cells gets candidates from both, which is what keeps descent
    * assignments near the flat argmin), then pick the best `n` among
    * the candidates. Falls back to the flat scan for non-hierarchical
    * models — so this is safe to call unconditionally.
    */
  def nearestDescend(v: Array[Float], n: Int): Array[Int] = {
    if (!hierarchical) return nearest(v, n)
    val cellCap = math.min(l1.length, math.max(2, n))
    val order = IvfModel.topNByDot(l1, null, v, cellCap)
    var count = 0
    var ci = 0
    while (ci < order.length && (count < n || ci < 2)) {
      count += children(order(ci)).length
      ci += 1
    }
    val cand = new Array[Int](count)
    var off = 0
    var cj = 0
    while (cj < ci) {
      val ch = children(order(cj))
      System.arraycopy(ch, 0, cand, off, ch.length)
      off += ch.length
      cj += 1
    }
    IvfModel.topNByDot(centroids, cand, v, n)
  }

  /** The executor-side kernel behind [[IvfNearest]]: same selection as
    * [[nearestDescend]], reading the vector straight from Catalyst
    * ArrayData (FLOAT arrays copy exactly; DOUBLE input narrows to
    * float first — the model itself is float32).
    */
  def nearestData(arr: ArrayData, isFloat: Boolean, n: Int): ArrayData = {
    val v: Array[Float] =
      if (isFloat) arr.toFloatArray()
      else {
        val d = arr.toDoubleArray()
        val f = new Array[Float](d.length)
        var i = 0
        while (i < d.length) { f(i) = d(i).toFloat; i += 1 }
        f
      }
    ArrayData.toArrayData(nearestDescend(v, n))
  }

  /** Residual v − centroids(cluster) — the IVF-ADC encoding input
    * (Jégou et al. 2011 §III: quantize residuals to the assigned
    * coarse centroid, not raw positions; residual magnitudes are a
    * fraction of vector magnitudes, so the same code bytes buy far
    * less quantization error). Per component: exact IEEE double
    * subtraction, then one float32 narrowing — both single-rounded
    * identically in any IEEE engine, so the Python oracle replays the
    * residuals bit-for-bit. Components past the centroid's length
    * subtract 0 (the Matryoshka truncation convention the PQ kernels
    * share).
    */
  def residualData(arr: ArrayData, isFloat: Boolean,
                   cluster: Int): ArrayData = {
    val c = centroids(cluster)
    val n = arr.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val cv = if (i < c.length) c(i).toDouble else 0.0
      out(i) = (x - cv).toFloat
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** dot(v, centroids(cluster)) — the per-(query, probed-cell)
    * additive term of residual ADC scoring under the inner-product
    * metric: q·x ≈ q·centroid + q·residual̂. Sequential-in-double,
    * the family's oracle-replayable fold.
    */
  def centroidDotData(arr: ArrayData, isFloat: Boolean,
                      cluster: Int): Double = {
    val c = centroids(cluster)
    var s = 0.0
    var i = 0
    val n = math.min(arr.numElements(), c.length)
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      s += x * c(i).toDouble
      i += 1
    }
    s
  }
}

object IvfModel {
  /** Flat (non-hierarchical) model. */
  def apply(centroids: Array[Array[Float]]): IvfModel =
    IvfModel(centroids, Array.empty, Array.empty)

  /** Indices of the `n` best candidates by (dot desc, index asc) —
    * ONE pass with an insertion-sorted top-n buffer (n is 1 or the
    * probe width; the previous formulation allocated and sorted an
    * nlist-sized tuple list per row). `cands == null` scans the whole
    * table; otherwise only the given candidate ids.
    */
  private[pipeline] def topNByDot(table: Array[Array[Float]],
                                  cands: Array[Int], v: Array[Float],
                                  n: Int): Array[Int] = {
    val m = if (cands == null) table.length else cands.length
    val k = math.min(n, m)
    if (k <= 0) return Array.empty[Int]
    val idx = new Array[Int](k)
    val sc = new Array[Double](k)
    var filled = 0
    var j = 0
    while (j < m) {
      val c = if (cands == null) j else cands(j)
      val s = dot(table(c), v)
      val full = filled == k
      if (!full || s > sc(k - 1) || (s == sc(k - 1) && c < idx(k - 1))) {
        var p = if (full) k - 1 else filled
        while (p > 0 && (sc(p - 1) < s || (sc(p - 1) == s && idx(p - 1) > c))) p -= 1
        var q = if (full) k - 1 else filled
        while (q > p) { sc(q) = sc(q - 1); idx(q) = idx(q - 1); q -= 1 }
        sc(p) = s
        idx(p) = c
        if (!full) filled += 1
      }
      j += 1
    }
    idx
  }

  /** Sequential-in-double dot — the numeric contract every oracle
    * replays (same fold as [[graft.functions.VectorKernels.dot]]).
    */
  @inline private[pipeline] def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
}

/** Per-row IVF centroid assignment/probe as a codegen'd Catalyst
  * expression: the model rides along as a plan reference object (the
  * task binary Spark broadcasts once per stage), the kernel is
  * [[IvfModel.nearestData]] — hierarchical descent when the model has
  * two levels, flat scan otherwise. This is the corpus-wide assign
  * scan of the IVF/semDedup family; its UDF predecessor paid a
  * Catalyst↔Scala converter per row AND evaluated all nlist centroids.
  */
case class IvfNearest(child: Expression, model: IvfModel, nprobe: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_nearest"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    model.nearestData(a.asInstanceOf[ArrayData], elemIsFloat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfModel", model, classOf[IvfModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $m.nearestData($a, $isF, $nprobe);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Residual of a vector against its assigned cluster's centroid
  * (codegen'd): the IVF-ADC encode-side kernel —
  * [[IvfModel.residualData]] on (vec ARRAY&lt;FLOAT|DOUBLE&gt;,
  * cluster INT|BIGINT).
  */
case class IvfResidual(left: Expression, right: Expression,
                       model: IvfModel)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<FLOAT|DOUBLE>, INT|BIGINT), " +
          s"got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "ivf_residual"

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    model.residualData(a.asInstanceOf[ArrayData], elemIsFloat,
      b.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfModel", model, classOf[IvfModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $m.residualData($a, $isF, (int) $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot(vec, centroids(cluster)) (codegen'd): the query-side additive
  * term of residual ADC scoring — [[IvfModel.centroidDotData]].
  */
case class IvfCentroidDot(left: Expression, right: Expression,
                          model: IvfModel)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<FLOAT|DOUBLE>, INT|BIGINT), " +
          s"got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ivf_centroid_dot"

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    model.centroidDotData(a.asInstanceOf[ArrayData], elemIsFloat,
      b.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfModel", model, classOf[IvfModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $m.centroidDotData($a, $isF, (int) $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** IVF (inverted-file) ANN: a spherical k-means coarse quantizer
  * built with DataFrame ops, then search = probe the `nprobe` nearest
  * centroid lists and rescore exactly.
  *
  * This is the batch-index-build path the north star asks for: train
  * is a bounded driver-side fold (the faiss design), assignment is a
  * full scan through the codegen'd [[IvfNearest]] kernel — O(√nlist)
  * dots per row on hierarchical models — and a search touches
  * ~nprobe/nlist of the corpus via a cluster-id equi-join on the
  * pre-partitioned postings. At 100 TB the postings table is written
  * back partitioned by `cluster` so probes prune partitions at the
  * parquet level. Online serving stays out of scope (BASELINE.json);
  * this is offline index build + batch query.
  */
object Ivf {

  /** Back-compat alias: the model type now lives at package level
    * (codegen references it by its Java binary name).
    */
  type IvfModel = graft.pipeline.IvfModel
  val IvfModel: graft.pipeline.IvfModel.type = graft.pipeline.IvfModel

  /** splitmix64 finalizer — seeds the deterministic centroid init. */
  @inline private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Train a spherical k-means quantizer on a BOUNDED sample, folded
    * sequentially on the driver — the faiss design: a coarse quantizer
    * only needs a representative sample (`maxTrainRows`, ≈50 MB of
    * float32 at 200k×64), so training costs ONE bounded collect and
    * zero per-iteration distributed passes; the full-corpus work is
    * all in [[assign]]/[[search]], which scan once. (The previous
    * formulation ran a mapPartitions vector-sum + reduceByKey per
    * iteration — already shuffle-frugal, but its merge order made the
    * low bits of the centroids partition-nondeterministic, which can
    * flip boundary assignments and makes the model un-oracle-able.)
    *
    * Fully deterministic: the sample is collected sorted by id,
    * centroids init from a splitmix64 pseudo-shuffle of the ids, and
    * accumulation is sequential in id order — bit-reproducible across
    * runs, partitionings, and engines (the Python oracle replays the
    * identical fold).
    */
  def train(df: DataFrame, vecCol: String, idCol: String, nlist: Int,
            iters: Int = 5, seed: Long = 42L,
            maxTrainRows: Long = 200000L): IvfModel =
    trainFromSample(collectSample(df, vecCol, idCol, seed, maxTrainRows),
      nlist, iters, seed)

  /** [[train]] from an already-collected [[TrainSample]] — for callers
    * that need the sample (or its row count) for their own control
    * flow and must not pay a second collection pass. Non-empty.
    */
  def trainFromSample(sample: Array[(Long, Array[Float])], nlist: Int,
                      iters: Int = 5, seed: Long = 42L): IvfModel = {
    require(sample.nonEmpty, "cannot train on an empty sample")
    IvfModel(kmeansFold(sample, nlist, iters, seed))
  }

  /** Two-level (hierarchical) train for LARGE nlist: an L1 quantizer
    * with ~√nlist centroids partitions the sample, then each L1 cell
    * trains its own nlist/√nlist sub-centroids — the flat model the
    * search path consumes is their concatenation, and the L1 table +
    * per-cell child ranges are kept on the model so ASSIGNMENT can
    * descend the same two levels. Driver train cost drops from
    * sample×nlist to sample×2√nlist distance evaluations, and per-row
    * assign cost from nlist to ~3√nlist (L1 scan + two cells'
    * children) — which is what makes corpus-proportional nlist (the
    * [[graft.pipeline.Dedup.semDedup]] contract) affordable end to
    * end. Deterministic by the same construction as [[train]] — the
    * Python oracle replays L1, the per-cell L2 folds in cell order,
    * the concatenation order, and the descent rule.
    */
  def trainHierarchical(df: DataFrame, vecCol: String, idCol: String,
                        nlist: Int, iters: Int = 5, seed: Long = 42L,
                        maxTrainRows: Long = 200000L,
                        branch: Int = 0): IvfModel =
    trainHierarchicalFromSample(
      collectSample(df, vecCol, idCol, seed, maxTrainRows),
      nlist, iters, seed, branch)

  /** [[trainHierarchical]] from an already-collected sample — same
    * fold, no collection pass. Non-empty.
    */
  def trainHierarchicalFromSample(sample: Array[(Long, Array[Float])],
                                  nlist: Int, iters: Int = 5,
                                  seed: Long = 42L,
                                  branch: Int = 0): IvfModel = {
    require(sample.nonEmpty, "cannot train on an empty sample")
    val b1 = if (branch > 0) branch
      else math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
    val l1 = IvfModel(kmeansFold(sample, b1, iters, seed))
    // ceil: b1·kc must be ≥ nlist or a non-square nlist silently
    // yields fewer clusters than the caller sized for (n²/nlist work
    // contract); cells with few members under-fill, so the final
    // count lands in [b1, b1·kc]
    val kc = math.max(1, (nlist + b1 - 1) / b1)
    val groups = Array.fill(l1.nlist)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])])
    sample.foreach { case (id, v) => groups(l1.nearest(v, 1)(0)) += ((id, v)) }
    val cents = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val childIdx = groups.zipWithIndex.map { case (g, c) =>
      val start = cents.length
      if (g.isEmpty) cents += l1.centroids(c) // empty cell keeps its L1 centroid
      else cents ++= kmeansFold(g.toArray, kc, iters, seed)
      Array.range(start, cents.length)
    }
    IvfModel(cents.toArray, l1.centroids, childIdx)
  }

  /** Fixed-point scale of [[trainDistributed]]'s component sums: each
    * vector component rides the aggregation as `round(x · 2^24)` in a
    * LONG. Integer addition is associative and commutative, so the
    * per-cluster sums — and therefore the trained model — are
    * BIT-IDENTICAL across partitionings, executor counts, and re-runs,
    * which is the property whose absence forced [[train]] off its old
    * distributed formulation (float merge order made the low bits
    * partition-nondeterministic and the model un-oracle-able).
    * Overflow envelope: |x| ≤ 8 supports ~7×10⁹ rows per cluster
    * (8 · 2^24 · 7e9 < 2^63); embedding inputs are unit-scale.
    */
  val TrainFixedPointScale: Double = (1L << 24).toDouble

  /** Distributed Lloyd's train over the FULL corpus — the scale path
    * past [[train]]'s bounded driver sample for when the corpus
    * distribution itself matters (rare modes a 200k sample
    * under-represents; nlist sized near √corpus). Each iteration is
    * ONE distributed pass: codegen'd nearest-centroid assignment
    * ([[IvfNearest]]) feeding a posexploded fixed-point component sum
    * (see [[TrainFixedPointScale]] for why fixed point — it is what
    * makes a DISTRIBUTED fold deterministic and hence oracle-able),
    * partially aggregated map-side to at most nlist × dim (sum, count)
    * longs per partition; only those nlist × dim rows ever reach the
    * driver. Init is [[kmeansFold]]'s splitmix64 pseudo-shuffle head,
    * computed distributed (TakeOrderedAndProject — no corpus collect).
    *
    * Deterministic by construction, but NOT bit-equal to [[train]]:
    * the driver fold accumulates sequential doubles over a bounded
    * sample; this fold accumulates exact fixed-point longs over every
    * row. Each is its own pinned algorithm with its own Python-oracle
    * replay. Rows with empty vectors are ignored by the fold; an
    * empty cluster keeps its centroid and a zero-norm mean keeps the
    * old centroid (the [[kmeansFold]] rules).
    */
  def trainDistributed(df: DataFrame, vecCol: String, idCol: String,
                       nlist: Int, iters: Int = 5,
                       seed: Long = 42L): IvfModel = {
    val idL = col(idCol).cast("long")
    // kmeansFold's init selection, distributed: the nlist rows with the
    // smallest (signed splitmix64(id + seed), id) — orderBy.limit plans
    // as TakeOrderedAndProject (a per-partition heap, no full sort)
    val init: Array[Array[Float]] = df
      .select(idL.as("_tid"), col(vecCol).cast("array<float>").as("_tv"))
      // null/empty-vec rows train nothing (the hierarchical picks
      // path's rule): unfiltered they would NPE the collect below or
      // seed a zero-dim centroid table
      .where(col("_tv").isNotNull && size(col("_tv")) > 0)
      .orderBy(graft.functions.HashFunctions.splitmix64(col("_tid"), seed),
        col("_tid"))
      .limit(nlist)
      .collect()
      .map(r => (splitmix64(r.getLong(0) + seed), r.getLong(0),
        r.getSeq[Float](1).toArray))
      .sortBy { case (h, id, _) => (h, id) } // re-assert the total order
      .map(_._3)
    require(init.nonEmpty, "cannot train on an empty corpus")
    lloydFixedPoint(df, vecCol, init, iters, IvfModel(_))
  }

  /** The fixed-point Lloyd's iteration shared by [[trainDistributed]]
    * and [[trainHierarchicalDistributed]]: assignment under
    * `mkModel(current)` (flat scan or two-level descent — whatever
    * the model shape makes [[IvfNearest]] do), ONE distributed pass
    * per iteration, centroids recomputed on the driver from the
    * order-independent long sums (spherical: normalized means; empty
    * clusters and zero-norm means keep their centroid).
    *
    * The fold is PACKED: per-row fixed-point longs via Spark's own
    * `round` (BigDecimal half-up — the exact rule the Python oracle
    * replays) inside a `transform`, then ONE per-cluster
    * [[graft.functions.FixedVecSum]] aggregation, so the driver
    * receives nlist `[count, sums…]` rows per iteration instead of
    * the r13 shape's nlist × dim (c, pos, s, n) Rows (~17M at
    * nlist 2^16 × dim 256) and nothing explodes corpus × dim rows
    * into the shuffle. Bit-identical to the explode shape by integer
    * associativity — same rounded longs, same sums (golden-pinned;
    * tools/TrainCurve measures the two shapes' iteration wall-time).
    */
  private def lloydFixedPoint(df: DataFrame, vecCol: String,
                              init: Array[Array[Float]], iters: Int,
                              mkModel: Array[Array[Float]] => IvfModel)
      : IvfModel = {
    var centroids = init
    val F = TrainFixedPointScale
    for (_ <- 1 to iters) {
      val model = mkModel(centroids)
      val dim = centroids.head.length
      val vecF = col(vecCol).cast("array<float>")
      val agg = df
        .select(nearestCol(vecF, model, 1).getItem(0).as("_c"),
          transform(vecF,
            x => round(x.cast("double") * F).cast("long")).as("_lv"))
        // null-vec rows assign no cluster and train nothing (the
        // explode shape never saw them: posexplode of null is empty)
        .where(col("_c").isNotNull)
        .groupBy(col("_c"))
        .agg(graft.functions.FixedVecSum.fixedVecSum(col("_lv"), dim)
          .as("_buf"))
        .collect()
      val sums = Array.fill(centroids.length)(new Array[Long](dim))
      val counts = new Array[Long](centroids.length)
      agg.foreach { r =>
        val c = r.getInt(0)
        val (n, s) = graft.functions.FixedVecSum.decode(r.getSeq[Long](1), dim)
        counts(c) = n
        sums(c) = s
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old // empty cluster keeps its centroid
        else {
          val v = sums(c).map(s => (s.toDouble / F) / counts(c))
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0.0) old else v.map(x => (x / n).toFloat)
        }
      }
    }
    mkModel(centroids)
  }

  /** Distributed two-level train — [[trainHierarchical]]'s scale
    * path, completing the corpus-proportional-nlist (semDedup) story
    * at full-corpus scale: the L1 quantizer is the flat
    * [[trainDistributed]] fold at ~√nlist, each L1 cell's children
    * initialize from the cell's kc splitmix64-smallest rows (ONE
    * per-cell bounded-heap aggregation — [[graft.functions
    * .TopKByScore]] over the NEGATED hash-as-double, ties to the
    * lower id — plus one In-pushed gather of ≤ nlist vectors), and
    * the L2 refinement is [[lloydFixedPoint]] under the assembled
    * hierarchical model, so per-row assignment DESCENDS
    * (O(√nlist) dots) exactly like the serving path. Empty cells
    * keep their L1 centroid as a single child (the
    * [[trainHierarchicalFromSample]] rule).
    *
    * Its own pinned algorithm (the Python oracle replays it): NOT
    * bit-equal to [[trainHierarchical]] — init hashes order as
    * DOUBLES (the heap aggregate's score type; a pure function of
    * ids all the same), refinement assigns by descent rather than
    * within the frozen owning cell, and accumulation is fixed-point.
    */
  def trainHierarchicalDistributed(df: DataFrame, vecCol: String,
                                   idCol: String, nlist: Int,
                                   iters: Int = 5, seed: Long = 42L,
                                   branch: Int = 0): IvfModel = {
    val b1 = if (branch > 0) branch
      else math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
    val l1 = trainDistributed(df, vecCol, idCol, b1, iters, seed)
    val kc = math.max(1, (nlist + b1 - 1) / b1)
    val idL = col(idCol).cast("long")
    val vecF = col(vecCol).cast("array<float>")
    val hashD = graft.functions.HashFunctions.splitmix64(idL, seed)
      .cast("double")
    val picks: Map[Int, Seq[Long]] = df
      .select(nearestCol(vecF, l1, 1).getItem(0).as("_cell"),
        idL.as("_id"), (-hashD).as("_s"))
      .where(col("_cell").isNotNull) // null-vec rows train nothing
      .groupBy(col("_cell"))
      .agg(graft.functions.TopKByScore.topKBy(col("_s"), col("_id"), kc)
        .as("top"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toSeq)
      .toMap
    val pickedIds = picks.values.flatten.toSeq
    // bounded gather of the picked init rows: In-pushdown while the
    // literal list is small, broadcast semi-join past the cutoff
    // (corpus-proportional nlist — the semDedup contract — can put
    // b1·kc in the tens of thousands, where a giant In bloats the
    // plan instead of pruning the scan)
    val pickedRows =
      if (pickedIds.size <= 4096)
        df.where(idL.isin(pickedIds: _*)).select(idL, vecF)
      else {
        import df.sparkSession.implicits._
        df.select(idL.as("_gid"), vecF)
          .join(broadcast(pickedIds.toDF("_gid")), Seq("_gid"))
          .select(col("_gid"), vecF)
      }
    val vecsById: Map[Long, Array[Float]] =
      pickedRows.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cents = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val childIdx = Array.tabulate(l1.nlist) { c =>
      val start = cents.length
      picks.get(c).filter(_.nonEmpty) match {
        case None => cents += l1.centroids(c) // empty cell keeps its L1
        case Some(ids) => cents ++= ids.map(vecsById)
      }
      Array.range(start, cents.length)
    }
    lloydFixedPoint(df, vecCol, cents.toArray, iters,
      flat => IvfModel(flat, l1.centroids, childIdx))
  }

  private def collectSample(df: DataFrame, vecCol: String, idCol: String,
                            seed: Long,
                            maxTrainRows: Long): Array[(Long, Array[Float])] =
    TrainSample.collect(df, vecCol, idCol, seed, maxTrainRows)

  /** The sequential k-means fold shared by [[train]] and
    * [[trainHierarchical]]: splitmix64 pseudo-shuffle init, then
    * `iters` sequential-in-id-order accumulation passes.
    */
  private def kmeansFold(sample: Array[(Long, Array[Float])], nlist: Int,
                         iters: Int, seed: Long): Array[Array[Float]] = {
    var centroids: Array[Array[Float]] = sample
      .map { case (id, v) => (splitmix64(id + seed), id, v) }
      .sortBy { case (h, id, _) => (h, id) }
      .take(nlist).map(_._3)

    for (_ <- 1 to iters) {
      val model = IvfModel(centroids)
      val dim = centroids.head.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { case (_, v) =>
        val c = model.nearest(v, 1)(0)
        var i = 0
        val n = math.min(dim, v.length)
        while (i < n) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old // empty cluster keeps its centroid
        else {
          val v = sums(c).map(_ / counts(c))
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0.0) old else v.map(x => (x / n).toFloat)
        }
      }
    }
    centroids
  }

  /** Cluster id(s) of the `nprobe` nearest centroids, as a codegen'd
    * column ([[IvfNearest]] — descent on hierarchical models).
    */
  private[pipeline] def nearestCol(vec: Column, model: IvfModel, nprobe: Int): Column =
    graft.functions.ColumnBridge.column(
      IvfNearest(graft.functions.ColumnBridge.expression(vec), model, nprobe))

  /** Postings table: corpus rows + their cluster id. Persist this
    * partitioned by `cluster` for partition-pruned probes at scale.
    */
  def assign(df: DataFrame, vecCol: String, model: IvfModel): DataFrame =
    df.withColumn("cluster", nearestCol(col(vecCol), model, 1).getItem(0))

  /** Persist the postings partitioned by cluster id — probes then
    * prune at the directory level (`PartitionFilters` in the scan), so
    * a search touches ~nprobe/nlist of the files. This is the on-disk
    * index layout for the 100 TB batch-serving path.
    *
    * `payloadCols` adds SECONDARY partition keys below cluster= —
    * the payload-index analog for filter-inside-search at scale: an
    * equality/In filter over a partitioned payload column prunes
    * whole directories out of the probe scan (PartitionFilters, no
    * file even opened) instead of row-filtering inside every probed
    * cell. Choose low-cardinality columns (tenant, language, source
    * — the columns filters actually bind); every key multiplies the
    * layout's directory count. Searches need no changes: the filter
    * lands on the partition column and Catalyst prunes (spec-pinned
    * on the plan).
    */
  def writeIndex(postings: DataFrame, path: String,
                 payloadCols: Seq[String] = Nil): Unit =
    graft.core.KeyedWrite.spread(postings, "cluster" +: payloadCols)
      .write.mode("overwrite")
      .partitionBy("cluster" +: payloadCols: _*).parquet(path)

  /** Does the layout carry SECONDARY (payload) partition dirs below
    * cluster=? Payload-partitioned layouts are REBUILD-maintained —
    * the append/compact/delete family hardcodes
    * partitionBy("cluster"), so an append would mix partition depths
    * (every later read dies on CONFLICTING_DIRECTORY_STRUCTURES) and
    * a rewrite would silently fold the payload column back into data
    * files, losing exactly the directory pruning the layout exists
    * for. [[guardNotPayloadPartitioned]] turns both into loud
    * errors. The exceptions, each keyed to the layout's own
    * discovered key set ([[payloadColsOf]]): tombstone sidecar
    * appends are depth-neutral, [[foldTombstones]] rebuilds with the
    * full key set (deletes DO work — serving latency, then the
    * fold), and [[appendToIndexPayload]] appends under the full
    * `cluster +: payload` partitionBy (appends DO work — through
    * the payload-aware entry point, never the plain one).
    */
  private def payloadPartitioned(spark: SparkSession,
                                 path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { c =>
      c.isDirectory && c.getPath.getName.startsWith("cluster=") &&
        fs.listStatus(c.getPath).exists(s =>
          s.isDirectory && s.getPath.getName.contains("="))
    }
  }

  private def guardNotPayloadPartitioned(spark: SparkSession,
                                         path: String, op: String): Unit =
    require(!payloadPartitioned(spark, path),
      s"$path is payload-partitioned (writeIndex payloadCols): $op " +
        "would corrupt or silently flatten the payload directories — " +
        "append through appendToIndexPayload (full-depth partitionBy), " +
        "delete through tombstones + foldTombstones, or rerun " +
        "writeIndex over the updated corpus")

  def readIndex(spark: SparkSession, path: String): DataFrame = {
    // serving-read recovery preamble (DirSwap contract): a crash
    // between a compaction/recluster swap's park and promote leaves
    // the layout parked at __old — restore it here rather than fail
    // every search until an unrelated maintenance pass runs
    graft.core.DirSwap.recoverAt(spark, path)
    spark.read.parquet(path)
  }

  /** Incremental index maintenance: assign NEW vectors against the
    * frozen coarse quantizer and append them into the same
    * cluster-partitioned layout — no retrain, no rewrite of existing
    * postings (a dynamic-partition append only touches the cluster
    * dirs the new rows land in). This is how a serving index absorbs
    * a daily ingest batch at 100 TB: train rarely, append forever.
    * Because assignment is a pure function of (vector, model), the
    * grown index is row-identical to one built in a single shot over
    * the union corpus — ivf_topk_incremental is oracled against
    * exactly the one-shot golden.
    */
  def appendToIndex(df: DataFrame, vecCol: String, model: IvfModel,
                    path: String): Unit = {
    // recover BEFORE appending: an append onto a mid-swap-crashed
    // layout (live missing, full copy parked at __old) would create a
    // fresh increment-only dir that recovery can then never heal —
    // the parked corpus would be silently lost
    graft.core.DirSwap.recoverAt(df.sparkSession, path)
    guardNotPayloadPartitioned(df.sparkSession, path, "appendToIndex")
    graft.core.KeyedWrite.spread(assign(df, vecCol, model), Seq("cluster"))
      .write.mode(SaveMode.Append).partitionBy("cluster").parquet(path)
  }

  /** Incremental append for PAYLOAD-PARTITIONED layouts — the one
    * lifecycle asymmetry the rebuild-only guard family left: the
    * layout's payload key set is DISCOVERED from its own directory
    * structure ([[payloadColsOf]], the [[foldTombstones]] rule) and
    * the increment appends under the full `cluster +: payload`
    * partitionBy, so partition depths always match and the new rows
    * land in (or create) exactly the partition dirs their payload
    * values name — directory pruning keeps working over the grown
    * layout, and the grown layout serves identically to a one-shot
    * [[writeIndex]] over the union (assignment is a pure function of
    * (vector, model); gate-pinned). The increment must carry every
    * payload column; plain layouts take [[appendToIndex]] (appending
    * payload dirs onto a plain layout would MIX partition depths —
    * the CONFLICTING_DIRECTORY_STRUCTURES landmine the guard family
    * exists to prevent, just from the other side).
    */
  def appendToIndexPayload(df: DataFrame, vecCol: String, model: IvfModel,
                           path: String): Unit = {
    val spark = df.sparkSession
    graft.core.DirSwap.recoverAt(spark, path)
    val parts = appendPartitions(df, path)
    require(parts.size > 1,
      s"$path carries no payload partition dirs — use appendToIndex")
    // this is the FLOAT append: a quantized payload layout
    // (writeIndexCodes also takes payloadCols) holds codes: binary
    // with vecCol dropped — appending raw float postings into it
    // would mix schemas and serve null codes silently, the exact
    // class the codec-marker family refuses everywhere else
    val existing = spark.read.parquet(path)
    require(existing.columns.contains(vecCol) &&
        !existing.columns.contains("codes") &&
        readCodec(spark, path).isEmpty,
      s"$path does not hold float '$vecCol' postings (codec-encoded " +
        "or foreign layout) — appendToIndexPayload is the float path; " +
        "codes layouts take appendToIndexCodes")
    graft.core.KeyedWrite.spread(assign(df, vecCol, model), parts)
      .write.mode(SaveMode.Append).partitionBy(parts: _*).parquet(path)
  }

  /** An append's partition columns: `cluster` plus the layout's own
    * payload keys ([[payloadColsOf]]), which the increment must all
    * carry — every row lands in a partition dir its values name, at
    * the layout's own depth.
    */
  private def appendPartitions(df: DataFrame, path: String): Seq[String] = {
    val payload = payloadColsOf(df.sparkSession, path)
    val missing = payload.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"increment is missing the layout's payload column(s) " +
        s"${missing.mkString(", ")} — every row must land in a " +
        "payload partition dir")
    "cluster" +: payload
  }

  /** Rewrite an append-grown index into one file per cluster dir —
    * each [[appendToIndex]] leaves its own file set in every cluster
    * it touched, and after many increments a probe pays file-open
    * cost proportional to the APPEND COUNT, not the data it reads.
    * Crash-safe (two-rename swap) and contents-invariant — search
    * results are identical before and after, pinned by IvfSpec's
    * compaction-invariance case — via the shared
    * [[graft.core.ParquetCompact]] pass ([[graft.streaming.StreamingDedup.compactIndex]]'s
    * LSM shape applied to the cluster layout). Run every K appends or
    * offline, like the streaming index.
    */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    guardNotPayloadPartitioned(spark, path, "compactIndex")
    graft.core.ParquetCompact.compact(spark, path,
      partitionCols = Seq("cluster"))
  }

  /** DELETE vectors from the persisted index (right-to-be-forgotten
    * for the vector store): the removed ids' postings are filtered
    * out inside the crash-safe rewrite swap, compacting as a side
    * effect. Search afterwards is identical to a one-shot build over
    * the surviving vectors under the same frozen quantizer
    * (oracle-pinned). `ids` is a one-column frame of `idCol` values —
    * anti-joined, never collected.
    */
  def deleteVectors(spark: SparkSession, path: String, ids: DataFrame,
                    idCol: String): Unit = {
    guardNotPayloadPartitioned(spark, path, "deleteVectors")
    rewriteWithout(spark, path, ids, idCol, Seq("cluster"))
  }

  /** The physical delete under both [[deleteVectors]] and
    * [[foldTombstones]]: one crash-safe rewrite anti-joining ONE
    * pinned id set (first column of `ids`, as `idCol`).
    */
  private def rewriteWithout(spark: SparkSession, path: String,
                             ids: DataFrame, idCol: String,
                             partitionCols: Seq[String],
                             dropHidden: Set[String] = Set.empty): Unit = {
    val del = ids.select(col(ids.columns.head).as(idCol))
      .localCheckpoint(true)
    graft.core.ParquetCompact.rewrite(spark, path, partitionCols,
      transform = p => p.join(del, Seq(idCol), "left_anti"),
      dropHidden = dropHidden)
    graft.core.Pinned.release(del)
  }

  /** TOMBSTONE deletion — right-to-be-forgotten at SERVING latency:
    * appends the ids to the layout's [[graft.core.Tombstones]] sidecar
    * (an O(|ids|) write) instead of rewriting the postings
    * ([[deleteVectors]] — an O(index) pass). Every serving read
    * through [[readIndexServing]] anti-joins the set, so the deleted
    * vectors vanish from results IMMEDIATELY; the physical bytes
    * leave at the next [[foldTombstones]]/maintenance pass — the
    * Lucene/LSM delete model. Exact for the vector side because
    * similarity is per-pair: masking a posting changes no other
    * row's score (contrast BM25, where deletion moves corpus stats —
    * which is why the lexical index keeps its rewrite-based
    * [[Bm25.deleteDocs]]).
    *
    * Contract: the live tombstone set is the delta since the last
    * fold — small by the maintenance policy — and rides a broadcast
    * anti-join at probe time; fold on the same cadence as
    * compaction. Tombstones mask by ID, so re-adding a tombstoned id
    * via a PLAIN append serves NOTHING for it until the tombstone
    * folds — delete-then-re-add must fold between the two, or go
    * through [[upsertVectors]]/[[upsertVersioned]], which REVIVE
    * their ids from the mask ([[Tombstones.revive]]).
    */
  def tombstoneVectors(spark: SparkSession, path: String, ids: DataFrame,
                       idCol: String): Unit = {
    // recover first: appending a sidecar beside a mid-swap-parked
    // layout would strand it on the wrong copy
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.add(spark, path, ids, idCol,
      Tombstones.hasData(spark, path, "cluster="))
  }

  /** The SERVING read: the layout minus its tombstoned ids — what
    * every search should scan between folds (the un-hinted anti join
    * of [[Tombstones.mask]]).
    */
  def readIndexServing(spark: SparkSession, path: String,
                       idCol: String): DataFrame =
    Tombstones.mask(spark, readIndex(spark, path), path, idCol)

  /** The MULTI-SEGMENT serving read: the union of several index
    * layouts, each minus its own tombstoned ids — the LSM read path
    * between [[mergeInto]] compactions (a new shard lands as its own
    * root and serves immediately; the physical merge becomes
    * background maintenance, not a serving prerequisite). Segments
    * must be assigned under ONE coarse quantizer — verified here
    * against each layout's persisted `_model`, the same witness
    * [[mergeInto]] requires — or probe/cluster semantics would
    * silently skew; under the family's disjoint-ids contract the
    * union frame is exactly what [[readIndexServing]] over the
    * physically merged layout would scan (spec-pinned). Absent or
    * data-less roots are empty segments; at least one segment must
    * hold data. Feed the result to [[search]]/[[searchFiltered]]/
    * [[searchGrouped]] exactly like a single layout's serving read.
    */
  def readSegmentsServing(spark: SparkSession, paths: Seq[String],
                          idCol: String, model: IvfModel): DataFrame = {
    val hc = spark.sparkContext.hadoopConfiguration
    paths.foreach(p => graft.core.DirSwap.recoverAt(spark, p))
    val live = paths.filter(p => Tombstones.hasData(spark, p, "cluster="))
    require(live.nonEmpty,
      "every segment root is absent or data-less — nothing to serve")
    live.foreach { p =>
      val mp = new org.apache.hadoop.fs.Path(modelPath(p))
      require(mp.getFileSystem(hc).exists(mp),
        s"segment $p has no persisted _model (Ivf.saveModel/ensurePair)" +
          " — it is the only witness that the segments share one quantizer")
    }
    verifyModelWitnesses(spark, live.map(modelPath), model)
    // quantized-sidecar PARITY: an int8 segment mixed with a PQ
    // segment passes the name-level schema check (both expose a
    // binary `codes` column) and can share the coarse-quantizer
    // witness, yet searchCodes over the union would score PQ bytes
    // with the int8 kernel — silently wrong similarities. `_pq`
    // presence must agree across segments, and when present the
    // codebooks must match bit-for-bit (mergeInto's samePq check
    // lifted to the N-segment serve; one batched read, no per-segment
    // job).
    locally {
      val withPq = live.filter { p =>
        val pp = new org.apache.hadoop.fs.Path(pqPath(p))
        pp.getFileSystem(hc).exists(pp)
      }
      require(withPq.isEmpty || withPq.size == live.size,
        s"segments disagree on PQ coding: ${withPq.mkString(", ")} carry " +
          s"a _pq codebook sidecar but ${(live.toSet -- withPq).mkString(", ")} " +
          "do not — their codes columns hold DIFFERENT encodings; " +
          "rebuild or serve them separately")
      if (withPq.size > 1) verifyPqWitnesses(spark, withPq.map(pqPath))
    }
    // LOUD schema-divergence check, driver-side (one footer read per
    // segment, no Spark job): forcing the head's schema onto the
    // tail reads below would otherwise NULL-FILL a diverged
    // segment's missing columns (standard parquet missing-column
    // semantics) — an int8 segment mixed with a float segment would
    // serve all-NULL codes silently instead of failing.
    val headCols = footerColumns(spark, live.head)
    live.tail.foreach { p =>
      val cols = footerColumns(spark, p)
      require(cols == headCols,
        s"segment $p holds data columns $cols but the head segment " +
          s"holds $headCols — segments must share ONE layout schema " +
          "(all int8 codes, all float vectors, ...); rebuild or serve " +
          "it separately")
    }
    // CODEC-marker parity — the divergence neither the footer types
    // nor the _pq check can see: int8 and BQ layouts carry identical
    // metadata (codes: binary, no codebook sidecar), so only the
    // writers' `_codec` stamp distinguishes them. Any mix — two
    // different stamps, or a stamped segment beside an unmarked one —
    // refuses loudly (FS reads only, no job).
    locally {
      val codecs = live.map(p => readCodec(spark, p))
      require(codecs.distinct.size <= 1,
        "segments disagree on codes ENCODING: " +
          live.zip(codecs).map { case (p, c) =>
            s"$p=${c.getOrElse("unmarked")}" }.mkString(", ") +
          " — int8/BQ/PQ bytes are mutually meaningless; rebuild or " +
          "serve them separately")
    }
    // Per-segment relations (arbitrary roots share no basePath, so a
    // single multi-path relation trips CONFLICTING_DIRECTORY_
    // STRUCTURES), but with the two per-segment driver jobs removed
    // (measured at ~0.2 s/segment each on an otherwise sub-second
    // serve): the head's inferred schema is reused for the rest —
    // sound after the footer check above — and partition discovery
    // runs on the driver instead of launching a listing job per
    // relation (nlist dirs of one file each: a driver listing is
    // milliseconds; the threshold is restored even if a read throws).
    // Every path was already DirSwap-recovered at entry.
    // CONCURRENCY CONTRACT: the override mutates the SESSION conf for
    // the (milliseconds-long) relation-construction window below, so
    // a query planned CONCURRENTLY on this SparkSession could observe
    // it — this entry point assumes the single-planner-at-a-time use
    // every serving read in the family does (executions may overlap;
    // plan CONSTRUCTION here must not race another plan construction
    // on the same session). A cloned session would isolate the conf
    // but rebind the returned frames' execution to the clone's
    // defaults (shuffle partitions, AQE), silently shedding the
    // caller's tuning — the wrong trade for a serving read.
    val discKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prevDisc = spark.conf.get(discKey)
    // FAST PATH (r16, forced by the 64/128-segment curve points): the
    // streamed write path lands every segment as `seg=<id>` under ONE
    // parent, and a tombstone-free segment's mask is a no-op — so the
    // common serving shape can read ALL segments as a single
    // multi-path relation with basePath = the shared parent (the
    // `seg` dirname surfaces as a partition column, dropped below)
    // instead of N relations + an N-way union. The curve measured the
    // per-relation fixed cost at ~90 ms/segment (plan analysis + one
    // scan node per segment): 12.2 s at 128 segments, linear — this
    // path collapses it to one relation whose small files bin-pack
    // into normal-sized tasks. Segments with live tombstone sidecars
    // (or foreign naming/parents) take the per-segment path below,
    // whose per-segment masks they actually need. The sidecar
    // DirSwap.recover the per-segment path performs runs here too —
    // eligibility must not skip the crash-window heal.
    val fastEligible = live.sizeIs > 1 &&
      live.forall(p =>
        new org.apache.hadoop.fs.Path(p).getName.matches("seg=\\d+")) &&
      live.map(p =>
        new org.apache.hadoop.fs.Path(p).getParent.toString).distinct.sizeIs == 1 &&
      live.forall(p => !Tombstones.present(spark, p))
    if (fastEligible) {
      val parent = new org.apache.hadoop.fs.Path(live.head).getParent.toString
      try {
        spark.conf.set(discKey, Int.MaxValue.toString)
        spark.read.option("basePath", parent).parquet(live: _*).drop("seg")
      } finally spark.conf.set(discKey, prevDisc)
    } else {
      val frames =
        try {
          spark.conf.set(discKey, Int.MaxValue.toString)
          val first = spark.read.parquet(live.head)
          first +: live.tail.map(p => spark.read.schema(first.schema).parquet(p))
        } finally spark.conf.set(discKey, prevDisc)
      frames.zip(live).map { case (f, p) => Tombstones.mask(spark, f, p, idCol) }
        .reduce(_ unionByName _)
    }
  }

  /** The data-column descriptors (name AND physical type — an int8
    * `codes: binary` segment and a float `vec: list<float>` segment
    * must diverge here, and so must two same-named columns of
    * different types, which the name-only check this replaced let
    * through to silent NULL-fill) of one leaf parquet file of
    * `path` — a driver-side footer read (no job), used as the
    * multi-segment schema-agreement witness. Partition columns live
    * in dir names, not footers, so they are excluded on both sides
    * by construction.
    */
  private def footerColumns(spark: SparkSession,
                            path: String): Set[String] = {
    val hc = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hc)
    def firstDataFile(p: org.apache.hadoop.fs.Path)
        : Option[org.apache.hadoop.fs.Path] = {
      val kids = fs.listStatus(p).filterNot(
        _.getPath.getName.startsWith("_"))
      kids.find(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
        .orElse(kids.filter(_.isDirectory).view
          .flatMap(d => firstDataFile(d.getPath)).headOption)
    }
    val file = firstDataFile(root).getOrElse(
      throw new IllegalArgumentException(s"no data file under $path"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, hc))
    try {
      import scala.jdk.CollectionConverters._
      // Type.toString carries repetition + physical/logical type +
      // name (e.g. "optional binary codes"), so type divergence under
      // a shared column name fails the set equality too
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.toString.replace('\n', ' ')).toSet
    } finally reader.close()
  }

  /** KEYSET pagination over the persisted layout — the vdb scroll
    * semantics (vectordb.py get_all / Qdrant scroll) lifted to the
    * 100 TB index family: one page of ids strictly after `afterId`,
    * id-ordered, tombstone-masked, optionally payload-filtered.
    * Plan shape: filter + keyset predicate push to the parquet scan
    * (id > after prunes pages via column stats), the cut is
    * TakeOrderedAndProject — O(page) rows cross the driver, never
    * the layout; each next page re-enters with the previous page's
    * last id, so no OFFSET scan-and-discard at any depth (the
    * keyset-vs-offset argument the vdb scroll documents). A missing
    * or data-less layout pages empty (the family's missing-layout
    * convention, [[graft.core.Tombstones.page]]).
    */
  def scroll(spark: SparkSession, path: String, idCol: String,
             afterId: Option[Long], limit: Int,
             filter: Option[Column] = None): DataFrame = {
    require(limit > 0, "scroll limit must be positive")
    import spark.implicits._
    if (!servable(spark, path)) return Seq.empty[Long].toDF(idCol)
    readIndexServing(spark, path, idCol)
      .where(filter.getOrElse(lit(true)))
      .where(afterId.map(a => col(idCol) > a).getOrElse(lit(true)))
      .select(col(idCol))
      .orderBy(col(idCol))
      .limit(limit)
  }

  /** EXACT count of served (live) postings, optionally filtered —
    * the Qdrant count-API semantics on the persisted layout: what a
    * dashboard or a quota check reads without a search. One
    * map-side-counted scan over the pruned, pushed-down, masked
    * serving read; returns a one-row (cnt) frame, 0 on a missing or
    * data-less layout.
    */
  def countIndex(spark: SparkSession, path: String, idCol: String,
                 filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    if (!servable(spark, path)) Seq(0L).toDF("cnt")
    else readIndexServing(spark, path, idCol)
      .where(filter.getOrElse(lit(true)))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Does the layout hold postings (after the swap recovery every
    * serving read runs)? The listings' data witness.
    */
  private def servable(spark: SparkSession, path: String): Boolean = {
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.hasData(spark, path, "cluster=")
  }

  /** Retire the tombstone set ([[graft.core.Tombstones.fold]]): the
    * masked ids fold into a physical [[deleteVectors]]-shaped rewrite
    * (crash-safe swap) that sheds the sidecar atomically with the swap
    * (dropHidden — a stale carried-over mask would merely re-mask
    * already-deleted ids, but shedding it spares every serve until
    * the next fold the anti-join), then the sidecar drops. A
    * data-less layout (the foldVersions short-circuit) retires the
    * sidecar without the rewrite, whose schema inference would fail.
    *
    * PAYLOAD-PARTITIONED layouts fold too (the one maintenance op
    * the rebuild-only guard family admits): the rewrite re-partitions
    * by the layout's OWN discovered key set — cluster plus its
    * payload dirs — so the fold IS the guard's prescribed
    * "writeIndex over the updated corpus", run from the masked
    * serving read inside the same crash-safe swap. Without this, a
    * payload layout's mask could never retire short of a manual
    * rebuild: a GDPR erasure would work but accumulate mask forever.
    */
  def foldTombstones(spark: SparkSession, path: String,
                     idCol: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, path)
    Tombstones.fold(spark, path, idCol,
        Tombstones.hasData(spark, path, "cluster=")) { ids =>
      rewriteWithout(spark, path, ids, idCol,
        "cluster" +: payloadColsOf(spark, path), Set(Tombstones.Name))
    }
  }

  /** Canonical location of a codes layout's CODEC marker: a `_codec`
    * dir holding ONE empty file named for the encoding
    * ([[Codec.marker]]) — an FS-read witness (no Spark job, no
    * parquet) closing the one divergence the footer-type check
    * cannot see: int8 and BQ layouts expose the identical
    * `codes: binary` column with no other sidecar, so a segment mix
    * or a cross-codec append would serve/score mutually meaningless
    * bytes SILENTLY. Hidden (underscore) ⇒ invisible to readers,
    * carried across every [[graft.core.ParquetCompact]] swap like
    * `_model`.
    */
  def codecPath(indexPath: String): String = s"$indexPath/_codec"

  /** The persisted codec marker, if any (pre-marker float layouts
    * and plain [[writeIndex]] layouts have none).
    */
  private[pipeline] def readCodec(spark: SparkSession,
                                  path: String): Option[String] = {
    val d = new org.apache.hadoop.fs.Path(codecPath(path))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) None
    else fs.listStatus(d).filter(_.isFile)
      .map(_.getPath.getName).sorted.headOption
  }

  /** Stamp-or-VERIFY the codec marker (the [[ensurePair]] shape):
    * an append under a DIFFERENT codec than the layout's is a loud
    * error — without this, a BQ append onto an int8 layout
    * interleaves sign-bit bytes into int8 postings and every later
    * serve scores garbage silently (both are `codes: binary` to
    * every other check). `fresh = true` ([[writeIndexCodes]], which
    * just created the layout) always stamps; an APPEND
    * (`fresh = false`) refuses an unmarked NON-EMPTY layout instead
    * of guessing — stamping the appender's codec onto unmarked
    * foreign bytes would both corrupt the layout and mislabel it
    * permanently (the correct writer would be refused from then on).
    */
  private def stampCodec(spark: SparkSession, path: String,
                         codec: Codec, fresh: Boolean = false): Unit =
    readCodec(spark, path) match {
      case Some(prev) =>
        require(prev == codec.marker,
          s"$path holds $prev-coded postings — appending ${codec.marker} codes " +
            "would interleave mutually meaningless bytes; rebuild the " +
            "layout or use the matching writer")
      case None =>
        val d = new org.apache.hadoop.fs.Path(codecPath(path))
        val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fresh || !Tombstones.hasData(spark, path, "cluster="),
          s"$path holds codes with NO _codec marker (a pre-marker or " +
            s"foreign layout) — refusing to assume they are ${codec.marker}; " +
            "rebuild with writeIndexCodes, which stamps")
        fs.mkdirs(d)
        fs.create(new org.apache.hadoop.fs.Path(d, codec.marker), true).close()
    }

  /** The layout's SECONDARY (payload) partition columns, discovered
    * from the directory structure itself (one branch descent below
    * the first cluster= dir — partition layouts are uniform by
    * construction). Nil for plain and absent layouts. This is what
    * lets [[foldTombstones]] preserve a payload-partitioned layout's
    * directory pruning through the fold instead of silently
    * flattening it back into data files, and [[appendToIndexCodes]]
    * append at the layout's own depth.
    */
  private def payloadColsOf(spark: SparkSession,
                            path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    @scala.annotation.tailrec
    def levels(dir: org.apache.hadoop.fs.Path,
               acc: List[String]): List[String] =
      fs.listStatus(dir).find(s =>
        s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(s) =>
          levels(s.getPath, acc :+ s.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    fs.listStatus(p).find(s =>
      s.isDirectory && s.getPath.getName.startsWith("cluster=")) match {
      case Some(c) => levels(c.getPath, Nil)
      case None => Nil
    }
  }

  /** UPSERT — replace-by-id, the vector-db ingestion op for MODIFIED
    * documents (a re-embedded doc must serve its new vector, never
    * both): physically delete any existing postings with the batch's
    * ids (crash-safe rewrite — id-based tombstones cannot express
    * replace, because the mask would hide the new copy too), then
    * append the batch under the frozen quantizer. Grown ≡ one-shot
    * over (corpus \ ids) ∪ batch, which is what oracles it. Crash
    * between the two steps leaves the ids deleted but not yet
    * re-added — re-running the same upsert heals (the delete
    * anti-joins nothing, the append lands once under the caller's
    * replay guard, the family's usual boundary). The batch's ids
    * also REVIVE from any live tombstone mask (last step — a crash
    * before it re-runs into the same heal): an upsert is an explicit
    * re-add, which supersedes a pending tombstone; leaving the mask
    * would hide the fresh copy and the next fold would erase it.
    */
  def upsertVectors(df: DataFrame, vecCol: String, idCol: String,
                    model: IvfModel, path: String): Unit = {
    val spark = df.sparkSession
    graft.core.DirSwap.recoverAt(spark, path)
    deleteVectors(spark, path, df.select(col(idCol)), idCol)
    appendToIndex(df, vecCol, model, path)
    Tombstones.revive(spark, path, df.select(col(idCol)), idCol)
  }

  /** Canonical location of a versioned layout's latest-sequence
    * sidecar: `_latest` inside the layout (one (id, seq) row per
    * ever-upserted id — bounded by the UPSERTED id set, not the
    * corpus; retired by [[foldVersions]]).
    */
  def latestPath(indexPath: String): String = s"$indexPath/_latest"

  /** Initial build for the VERSIONED lifecycle: the one-shot layout
    * with `seq = 0` on every posting. The versioned family requires
    * a schema-uniform layout — mixing seq-less build files with
    * seq-carrying appends would leave the read schema to parquet
    * footer sampling (non-deterministic without mergeSchema) — so
    * an index that will take [[upsertVersioned]] batches MUST start
    * here; upsert seqs start at 1.
    */
  def writeIndexVersioned(postings: DataFrame, path: String): Unit =
    writeIndex(postings.withColumn("seq", lit(0L)), path)

  /** VERSIONED upsert — replace-by-id WITHOUT a per-batch rewrite,
    * the streaming-ingest shape for modified documents: the batch
    * appends normally under the frozen quantizer with a `seq`
    * column, and the `_latest` sidecar records each id's newest
    * sequence. [[upsertVectors]]' delete+append is exact but pays an
    * O(index) rewrite per call — fatal at microbatch cadence; this
    * pays O(|batch| + |sidecar|).
    *
    * Why a sidecar instead of candidate-local latest-wins: a
    * re-embedded vector usually lands in a DIFFERENT cluster than
    * its stale version, so a probe that touches only the stale
    * cluster would serve the stale copy with no newer candidate in
    * sight to displace it — superseded-ness must be GLOBAL, exactly
    * Lucene's live-docs generation. [[readIndexServing]] masks
    * postings older than their id's latest seq (broadcast join on
    * the sidecar); [[foldVersions]] rewrites the losers away and
    * retires the sidecar.
    *
    * The sidecar merge is crash-safe via the shared [[graft.core.DirSwap]]
    * two-rename swap; a crash between the postings append and the
    * sidecar merge is healed by re-running the same upsert (the
    * family's replay boundary): the re-append lands under the same
    * seq and the merge's groupBy-max dedups it.
    */
  def upsertVersioned(df: DataFrame, vecCol: String, idCol: String,
                      model: IvfModel, path: String, seq: Long): Unit = {
    val spark = df.sparkSession
    graft.core.DirSwap.recoverAt(spark, path)
    guardNotPayloadPartitioned(spark, path, "upsertVersioned")
    graft.core.KeyedWrite.spread(
        assign(df, vecCol, model).withColumn("seq", lit(seq)),
        Seq("cluster"))
      .write.mode(SaveMode.Append).partitionBy("cluster").parquet(path)
    mergeLatest(spark, path,
      df.select(col(idCol), lit(seq).as("latest_seq")))
    // an upsert is an explicit re-add: REVIVE the batch's ids from
    // any live tombstone mask (the upsertVectors contract — without
    // it, tombstone(X) → upsertVersioned(X) hides every seq of X and
    // the next fold physically erases them all, the new copy included)
    Tombstones.revive(spark, path, df.select(col(idCol)), idCol)
  }

  private def mergeLatest(spark: SparkSession, path: String,
                          batch: DataFrame): Unit = {
    val lp = latestPath(path)
    val p = new org.apache.hadoop.fs.Path(lp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.DirSwap.recover(fs, p)
    val idCol = batch.columns.head
    // dedup the batch itself too: a duplicate id in one batch would
    // otherwise write two sidecar rows on first contact, and the
    // serving read's join would multiply that id's postings
    val b = batch.groupBy(col(idCol))
      .agg(max(col("latest_seq")).as("latest_seq"))
    val merged =
      if (!fs.exists(p)) b
      else spark.read.parquet(lp).unionByName(b)
        .groupBy(col(idCol)).agg(max(col("latest_seq")).as("latest_seq"))
    val tmp = new org.apache.hadoop.fs.Path(lp + "__compacting")
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.core.DirSwap.promote(fs, p, tmp)
  }

  /** The versioned serving read: the layout minus superseded
    * versions (postings whose seq predates their id's `_latest`
    * entry) minus tombstones — what [[upsertVersioned]]-maintained
    * indexes serve between folds. Un-upserted ids carry no sidecar
    * row and pass untouched (seq null-safe). Build-time postings
    * written without a `seq` column read as seq 0 — [[upsertVersioned]]
    * seqs start at 1 by convention.
    */
  def readIndexLatest(spark: SparkSession, path: String,
                      idCol: String): DataFrame = {
    val idx0 = readIndexServing(spark, path, idCol)
    val idx = if (idx0.columns.contains("seq")) idx0
      else idx0.withColumn("seq", lit(0L))
    val lp = new org.apache.hadoop.fs.Path(latestPath(path))
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // DirSwap contract: a crash mid-way through mergeLatest's promote
    // leaves the sidecar parked at __old — an exists-check without
    // recovery would serve UNMASKED (stale versions resurface), the
    // silent failure mode of the whole design
    graft.core.DirSwap.recover(fs, lp)
    if (!fs.exists(lp)) idx
    // un-hinted like the tombstone mask: the sidecar is bounded by
    // the fold cadence, not by contract — AQE broadcasts it while it
    // is small, and an overgrown one degrades instead of OOMing
    else idx.join(
        spark.read.parquet(latestPath(path)),
        Seq(idCol), "left")
      .where(col("latest_seq").isNull ||
        coalesce(col("seq"), lit(0L)) >= col("latest_seq"))
      .drop("latest_seq")
  }

  /** Retire the version history: rewrite keeping only each id's
    * latest surviving version (crash-safe swap), then drop the
    * `_latest` sidecar — the losers' bytes leave and the serving
    * read's mask becomes a no-op. The rewrite recomputes the winner
    * set from the postings themselves (max seq per id), so it is
    * idempotent and correct even if the sidecar was lost.
    *
    * Winners re-baseline to `seq = 0`: the fold is a new epoch. If
    * the survivors kept their old seqs, the NEXT correction run —
    * whose seqs restart at 1 ([[graft.streaming.StreamingUpsert]]'s
    * batchId + 1) — would lose to any leftover higher-seq winner:
    * its sidecar entry (id -> 1) masks neither the old seq-3 posting
    * nor the new one, and the serve would carry BOTH versions with
    * an arbitrary dedup pick. Re-baselining makes sequential
    * correction runs compose (spec-pinned).
    */
  def foldVersions(spark: SparkSession, path: String,
                   idCol: String): Unit = {
    graft.core.DirSwap.recoverAt(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    // a data-less layout (metadata sidecars only) holds no versions —
    // and schema inference over it would fail loudly
    if (!fs.listStatus(p).exists(f =>
      f.isDirectory && f.getPath.getName.startsWith("cluster="))) return
    guardNotPayloadPartitioned(spark, path, "foldVersions")
    // No version history ⇒ no rewrite. Without a `_latest` sidecar
    // the only possible leftovers are seq > 0 postings from a run
    // that died inside its FIRST batch (append lands before the
    // sidecar merge) — so: unversioned schema (no seq column) is a
    // footer-read no-op, and a versioned layout with max(seq) = 0 is
    // a one-column-scan no-op (a fold already re-baselined it; both
    // checks are orders cheaper than the full rewrite they skip —
    // this is also what keeps [[mergeInto]] metadata-only for
    // unversioned sources).
    if (!fs.exists(new org.apache.hadoop.fs.Path(latestPath(path)))) {
      if (!spark.read.parquet(path).columns.contains("seq")) return
      val mx = spark.read.parquet(path).agg(max(col("seq"))).head()
      if (mx.isNullAt(0) || mx.getLong(0) == 0L) return
    }
    val w = Window.partitionBy(col(idCol))
      .orderBy(coalesce(col("seq"), lit(0L)).desc)
    // dropHidden, NOT a post-promote delete: the rewrite re-baselines
    // every seq to 0, so a carried-over `_latest` (latest_seq >= 1)
    // surviving a crash between the promote and a separate sidecar
    // delete would mask EVERY upserted id's only posting — excluding
    // it from the carry-over retires the mask atomically WITH the
    // layout swap (no crash window exists)
    graft.core.ParquetCompact.rewrite(spark, path,
      partitionCols = Seq("cluster"),
      transform = d => {
        val dd = if (d.columns.contains("seq")) d
          else d.withColumn("seq", lit(0L))
        dd.withColumn("__vrk", row_number().over(w))
          .where(col("__vrk") === 1).drop("__vrk")
          .withColumn("seq", lit(0L))
      },
      dropHidden = Set("_latest"))
    // defensive: nothing to delete on the happy path (the swap shed
    // it), but heal any sidecar a PRE-dropHidden crash left behind
    fs.delete(new org.apache.hadoop.fs.Path(latestPath(path)), true)
  }

  /** RECLUSTER the persisted index: retrain the coarse quantizer on
    * the index's own CURRENT contents and rewrite the postings
    * reassigned under the new model, inside the same crash-safe
    * two-rename swap as compaction. This is the index-maintenance
    * pass a long-lived ANN deployment runs when appended data has
    * drifted from the frozen quantizer's training distribution
    * ([[appendToIndex]]'s "train rarely, append forever" has a decay
    * mode: stale centroids un-balance the cluster lists, so hot
    * cells grow unbounded and every probe that touches one reads
    * more postings for the same recall — the faiss operational
    * answer is a periodic retrain + reassign, which this is).
    *
    * Deterministic end to end: [[TrainSample]] membership is a pure
    * function of (id, seed, corpus count), so retraining on the
    * index contents is bit-identical to training on the union of
    * everything ever ingested — the reclustered index equals a
    * ONE-SHOT [[writeIndex]]([[assign]]) build over that union under
    * a fresh [[train]], which is what oracles the whole pass
    * (ivf_topk_reclustered pins it against the ivf_topk golden).
    *
    * 100 TB shape: one bounded sample collect (maxTrainRows cap,
    * driver k-means fold — the [[train]] scale story) plus one full
    * rewrite of the layout. The rewrite is the unavoidable cost of
    * moving rows between cluster dirs and is the same
    * dynamic-partition pass [[compactIndex]] already runs, so
    * "recluster" costs one compaction + one bounded collect — run it
    * on the compaction cadence when drift is detected, not per
    * append. Returns the new model; the caller serves with it from
    * then on (the old model's assignments no longer exist on disk).
    *
    * The retrained quantizer is persisted to `_model` INSIDE the
    * rewritten copy before the swap promotes it, so the (layout,
    * model) pair changes atomically — a crash at any point leaves a
    * layout whose `_model` describes it, never a new layout paired
    * with a stale quantizer. `hierarchical` retrains through
    * [[trainHierarchicalFromSample]] so an index sized with a
    * two-level quantizer keeps its O(√nlist) assign/search cost
    * class instead of silently degrading to a flat scan.
    *
    * `distributed = true` retrains with [[trainDistributed]] (the
    * full-corpus fixed-point Lloyd's) instead of the bounded-sample
    * fold — the scale knob for a drifted layout whose distribution a
    * sample under-represents; mutually exclusive with `hierarchical`
    * (the distributed fold trains flat models).
    */
  def recluster(spark: SparkSession, path: String, vecCol: String,
                idCol: String, nlist: Int, iters: Int = 5,
                seed: Long = 42L, maxTrainRows: Long = 200000L,
                hierarchical: Boolean = false,
                branch: Int = 0,
                distributed: Boolean = false): IvfModel = {
    guardNotPayloadPartitioned(spark, path, "recluster")
    require(!(hierarchical && distributed),
      "trainDistributed trains flat models — drop one of the flags")
    val model =
      if (distributed)
        trainDistributed(readIndex(spark, path), vecCol, idCol, nlist,
          iters, seed)
      else {
        val sample = TrainSample.collect(readIndex(spark, path), vecCol,
          idCol, seed, maxTrainRows)
        if (hierarchical)
          trainHierarchicalFromSample(sample, nlist, iters, seed, branch)
        else trainFromSample(sample, nlist, iters, seed)
      }
    graft.core.ParquetCompact.rewrite(spark, path,
      partitionCols = Seq("cluster"),
      transform = p => p.drop("cluster")
        .withColumn("cluster", nearestCol(col(vecCol), model, 1).getItem(0)),
      beforeSwap = tmp =>
        saveModel(spark, model,
          new org.apache.hadoop.fs.Path(tmp, "_model").toString),
      // a recluster re-keys every cluster id, so a carried-over
      // `_radii` sidecar (RangeSearch) would bound the WRONG cells —
      // an under-estimate there silently drops range-search results.
      // Retire it with the swap; the missing-sidecar fallback
      // (admit-all) keeps range search correct until writeRadii reruns
      dropHidden = Set("_radii"))
    model
  }

  /** Canonical location of a layout's persisted quantizer: `_model`
    * INSIDE the layout directory — hidden from Spark's file index
    * (underscore prefix), carried across every
    * [[graft.core.ParquetCompact]] swap, written atomically WITH the
    * layout by [[recluster]], and gone when the layout is gone
    * (missing dir = empty index, the family convention).
    */
  def modelPath(indexPath: String): String = s"$indexPath/_model"

  /** The SERVING-KNOB TUNER: smallest nprobe whose measured recall@k
    * on a query sample meets `targetRecall` — the call a deployment
    * makes before trusting an approximate index, packaged from the
    * instrument the per-family recall rows already use. Doubling
    * sweep 1, 2, 4, … nlist; exact ground truth computed ONCE and
    * pinned; stops at the first step meeting the target. Recall is
    * MICRO-averaged — sum(hits) / sum(min(k, |truth_q|)) over the
    * sample, one integer division — so the number is bit-identical
    * across engines and partitionings (a per-query mean would sum
    * non-representable doubles in shuffle order). Returns the sweep
    * table (nprobe, hits, denom, recall, chosen): bounded at
    * log2(nlist)+1 probe searches over the bounded query sample, and
    * `chosen` marks the final row iff its recall met the target (an
    * unmet target at nprobe = nlist means the truth itself is
    * unreachable through the dedup — not a knob problem).
    */
  def tuneNprobe(postings: DataFrame, queries: DataFrame, vecCol: String,
                 idCol: String, model: IvfModel, k: Int,
                 targetRecall: Double): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      "targetRecall must be in (0, 1]")
    val spark = postings.sparkSession
    import spark.implicits._
    val truth = Similarity.bruteForceTopK(postings, queries, vecCol,
      idCol, k).localCheckpoint(true)
    val denom = truth.groupBy(col("qid"))
      .agg(least(lit(k.toLong), count(lit(1))).as("d"))
      .agg(coalesce(sum(col("d")), lit(0L))).head().getLong(0)
    if (denom == 0) {
      graft.core.Pinned.release(truth) // don't leak the pin on the error path
      throw new IllegalArgumentException(
        "tuneNprobe: empty query sample or ground truth — nothing to tune against")
    }
    val steps = (Iterator.iterate(1)(_ * 2).takeWhile(_ < model.nlist)
      .toSeq :+ model.nlist).distinct
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Double)]
    var done = false
    try
      for (p <- steps if !done) {
        val hits = Similarity.recallAtK(truth,
            search(postings, queries, vecCol, idCol, model, k, nprobe = p), k)
          .agg(coalesce(sum(col("hits")), lit(0L))).head().getLong(0)
        val rec = hits.toDouble / denom
        rows += ((p, hits, denom, rec))
        if (rec >= targetRecall) done = true
      }
    finally graft.core.Pinned.release(truth) // don't leak the pin if a step throws
    val chosenNprobe =
      if (rows.last._4 >= targetRecall) rows.last._1 else -1
    rows.toSeq.toDF("nprobe", "hits", "denom", "recall")
      .withColumn("chosen", col("nprobe") === lit(chosenNprobe))
  }

  /** Persist the coarse quantizer WITH the postings it assigned —
    * the missing half of a restartable index: the layout alone is
    * ambiguous (assignments are a function of the model, and serving
    * with ANY other model silently degrades probes), so a deployment
    * that survives restarts stores the pair together at
    * [[modelPath]]. One tiny parquet of (level, idx, vec|child)
    * rows — level 0 the flat table, 1 the L1 table, 2 the child
    * index lists. A standalone save (initial build) is a plain
    * overwrite — re-run it if interrupted; the save that MUST be
    * atomic with a layout change is [[recluster]]'s, which writes
    * `_model` inside the compacted copy before the two-rename swap.
    */
  def saveModel(spark: SparkSession, model: IvfModel, path: String): Unit = {
    import spark.implicits._
    val flat = model.centroids.zipWithIndex.map { case (v, i) =>
      (0, i, v, Array.empty[Int]) }
    val l1 = model.l1.zipWithIndex.map { case (v, i) =>
      (1, i, v, Array.empty[Int]) }
    val kids = model.children.zipWithIndex.map { case (c, i) =>
      (2, i, Array.empty[Float], c) }
    (flat ++ l1 ++ kids).toSeq
      .toDF("level", "idx", "vec", "child")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
    // the digest sidecar rides inside the dir (crash before this
    // write ⇒ no sidecar ⇒ verifiers fall back to the full parquet
    // comparison — never a stale digest, the overwrite above wiped it)
    graft.core.DigestSidecar.write(spark, path, modelDigest(model))
  }

  /** Canonical SHA-256 of a quantizer's exact values — digest
    * equality stands in for [[sameModel]] wherever one side is
    * already persisted with its [[graft.core.DigestSidecar]],
    * replacing a per-check Spark read+collect job with one FS read.
    */
  private[pipeline] def modelDigest(model: IvfModel): String = {
    val b = new graft.core.DigestSidecar.Builder
    b.i32(model.centroids.length)
    model.centroids.foreach(b.floats)
    b.i32(model.l1.length)
    model.l1.foreach(b.floats)
    b.i32(model.children.length)
    model.children.foreach(b.ints)
    b.hex()
  }

  /** Does the model persisted at `mp` equal `model`? Digest compare
    * when the sidecar exists; bit-for-bit parquet comparison for
    * pre-digest layouts — the check never weakens, only cheapens.
    */
  private[pipeline] def modelMatchesPersisted(spark: SparkSession,
      mp: String, model: IvfModel): Boolean =
    graft.core.DigestSidecar.read(spark, mp) match {
      case Some(d) => d == modelDigest(model)
      case None => sameModel(loadModel(spark, mp), model)
    }

  /** Do two PERSISTED models match (the mergeInto witness)? Both
    * digests present ⇒ string compare, zero Spark jobs; otherwise
    * load-and-compare as before.
    */
  private[pipeline] def persistedModelsMatch(spark: SparkSession,
      a: String, b: String): Boolean =
    (graft.core.DigestSidecar.read(spark, a),
      graft.core.DigestSidecar.read(spark, b)) match {
      case (Some(x), Some(y)) => x == y
      case _ => sameModel(loadModel(spark, a), loadModel(spark, b))
    }

  /** Read back a [[saveModel]] quantizer — bit-identical (float32
    * centroids round-trip exactly through parquet).
    */
  def loadModel(spark: SparkSession, path: String): IvfModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("level"), col("idx"), col("vec"), col("child"))
      .as[(Int, Int, Array[Float], Array[Int])]
      .collect()
    def table(level: Int): Array[Array[Float]] =
      rows.filter(_._1 == level).sortBy(_._2).map(_._3)
    IvfModel(table(0), table(1),
      rows.filter(_._1 == 2).sortBy(_._2).map(_._4))
  }

  /** Model-witness verification — the multi-segment trust check
    * shared by [[readSegmentsServing]] and
    * [[MultiVector.searchSegments]]: every `_model` sidecar in `dirs`
    * must hold a quantizer bit-identical to the serving `model`, by
    * [[modelMatchesPersisted]]'s one rule (digest compare, one FS read
    * and no Spark job; full parquet compare only for a pre-digest
    * `_model`).
    */
  private[pipeline] def verifyModelWitnesses(spark: SparkSession,
      dirs: Seq[String], model: IvfModel): Unit =
    dirs.foreach { d =>
      require(modelMatchesPersisted(spark, d, model),
        s"segment at $d is assigned under a DIFFERENT coarse quantizer " +
          "than the serving model — rebuild it or serve it separately")
    }

  /** Batched codebook-parity verification for PQ-coded segments:
    * every `_pq` sidecar in `dirs` must hold codebooks bit-identical
    * to the first's. ONE multi-path read of the (sub, code, vec,
    * dsub) rows [[Pq.saveModel]] persists, grouped back by source
    * file — O(1) Spark jobs however many segments.
    */
  private def verifyPqWitnesses(spark: SparkSession,
      dirs: Seq[String]): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    import spark.implicits._
    val rows = spark.read.parquet(dirs: _*)
      .select(input_file_name().as("f"), col("sub"), col("code"),
        col("vec"), col("dsub"))
      .as[(String, Int, Int, Array[Float], Int)]
      .collect()
      .map { case (f, j, c, v, d) => (new java.net.URI(f).getPath, j, c, v, d) }
    def pqOf(d: String): Pq.PqModel = {
      val dp = new org.apache.hadoop.fs.Path(d)
      val abs = dp.getFileSystem(hc).makeQualified(dp).toUri.getPath
      val mine = rows.filter(_._1.contains(s"$abs/"))
      require(mine.nonEmpty, s"segment codebooks at $d read back empty")
      val m = mine.iterator.map(_._2).max + 1
      new Pq.PqModel(m, mine.head._5, Array.tabulate(m)(j =>
        mine.filter(_._2 == j).sortBy(_._3).map(_._4)))
    }
    val head = pqOf(dirs.head)
    dirs.tail.foreach { d =>
      require(samePq(head, pqOf(d)),
        s"segment at $d is encoded under DIFFERENT codebooks than " +
          s"${dirs.head} — their codes bytes are mutually meaningless; " +
          "rebuild or serve them separately")
    }
  }

  /** Operational HEALTH surface for a persisted index — the one-row
    * answer a maintenance loop or an operator dashboard reads before
    * trusting/serving a layout: physical posting count, tombstoned
    * ids (mask size — the fold-cadence signal), live (served) count,
    * append debris (mean files per cluster dir — the compaction
    * alarm), and list imbalance (the recluster alarm). Counts come
    * from parquet metadata (zero-column scans) plus the tiny
    * sidecar; nothing touches a data page.
    */
  def indexHealth(spark: SparkSession, path: String,
                  idCol: String): DataFrame = {
    import spark.implicits._
    graft.core.DirSwap.recoverAt(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(p)
    val total =
      if (!exists) 0L
      else readIndex(spark, path).groupBy().count().head().getLong(0)
    val masked = Tombstones.masked(spark, path, idCol).fold(0L)(_.count())
    // live = the serving anti-join counted exactly — the one number
    // needing the id column; a tight maintenance loop can difference
    // postings - tombstoned instead when tombstones are known-resident
    val live =
      if (!exists) 0L
      else readIndexServing(spark, path, idCol).groupBy().count()
        .head().getLong(0)
    Seq((total, masked, live,
        graft.core.ParquetCompact.meanFilesPerDir(spark, path),
        imbalance(spark, path)))
      .toDF("postings", "tombstoned", "live", "files_per_dir",
        "imbalance")
  }

  /** Per-list size stats for the persisted index — the DRIFT ALARM
    * [[recluster]] answers, made operational from ReclusterMeasure's
    * finding (PLANS.md): under distribution drift, recall looks fine
    * right up until hot lists have silently multiplied probe cost
    * (the stale index held recall 0.908 only by scanning 4.5× its
    * nprobe budget), so the signal to watch is list BALANCE, not
    * recall. Computed without touching a single data page: the scan
    * projects zero columns (ReadSchema struct<>, spec-pinned), so
    * per-cluster row counts come straight from parquet row-group
    * metadata — a footer pass even at 100 TB. One row per non-empty
    * cluster: (cluster, size).
    */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover BEFORE the existence check — a parked layout must read
    // as its full self, not as "empty index" (a maintenance loop
    // polling this alarm would otherwise see 0 forever)
    graft.core.DirSwap.recover(fs, p)
    if (!fs.exists(p)) {
      // missing dir IS an empty layout (family convention, same as
      // meanFilesPerDir): zero stats rows, not an AnalysisException
      // crashing a maintenance loop that polls the alarm
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("cluster", IntegerType),
          StructField("size", LongType))))
    }
    readIndex(spark, path).groupBy("cluster")
      .agg(count(lit(1)).as("size"))
  }

  /** max/mean list-size ratio from [[indexStats]] — 1.0 is perfectly
    * balanced; a rising value is the [[recluster]] trigger
    * (ReclusterMeasure: imbalance 23× meant probes scanning 4.5×
    * their nominal budget while recall still looked healthy). 0.0
    * for a missing/empty layout — no data, no signal, the alarm
    * never fires (mirrors [[graft.core.ParquetCompact.meanFilesPerDir]]).
    */
  def imbalance(spark: SparkSession, path: String): Double = {
    val r = indexStats(spark, path)
      .agg(max(col("size")), avg(col("size"))).head()
    if (r.isNullAt(0)) 0.0
    else r.getLong(0).toDouble / r.getDouble(1)
  }

  /** SEGMENT MERGE — absorb the layout at `srcPath` into `dstPath`
    * as a METADATA-ONLY operation: each cluster partition's files
    * RENAME across (no data bytes move on a rename-capable
    * filesystem). This is what makes the distributed 100 TB build
    * topology work: shard the corpus, build every shard's index in
    * parallel under ONE frozen coarse quantizer, then merge segments
    * in O(files) metadata time instead of re-writing index bytes —
    * the Lucene segment-merge move, re-expressed on a partitioned
    * parquet layout (where it is even cheaper: cluster partitioning
    * means merged files never need row-level interleaving).
    *
    * Correctness contract:
    *  - both layouts must carry a persisted `_model` describing the
    *    SAME coarse quantizer (codes assigned under different
    *    quantizers are garbage when mixed — loud error, the
    *    [[ensurePair]] argument applied across layouts); a `_pq`
    *    sidecar, if present on either side, must be present and
    *    bit-identical on both.
    *  - both sides' read schemas must agree (a versioned layout
    *    cannot absorb an unversioned one — the seq column would be
    *    null-filled by schema merge and the serving mask undefined).
    *  - SRC's tombstone/version sidecars FOLD first: they would be
    *    dropped by the move (sidecars don't ride along) and their
    *    semantics are per-layout anyway (src's seq epochs and mask
    *    ids are meaningless in dst's domain). DST's sidecars stay
    *    live and untouched — they mask only dst ids, which remain
    *    valid after the merge, and folding the (big) destination on
    *    every merge would turn a metadata move into a full rewrite.
    *    No-op when absent. The one sidecar that MOVES instead of
    *    folding is `_radii` — its rows are cluster-keyed (not
    *    id-keyed) and additive under the shared quantizer, and
    *    dropping it would unsoundly shrink RangeSearch's prune bound
    *    for the merged members.
    *  - single-writer, like the rest of the family; crash-safe by
    *    IDEMPOTENCE rather than atomicity — each rename is atomic,
    *    a crashed merge leaves every file in exactly one layout, and
    *    a re-run moves the remainder (src's `_model` is deleted
    *    LAST, so the re-run still verifies). Readers may observe dst
    *    mid-grow: the appendToIndex visibility contract.
    */
  def mergeInto(spark: SparkSession, dstPath: String, srcPath: String,
                idCol: String = "vec_id"): Unit = {
    graft.core.DirSwap.recoverAt(spark, dstPath)
    graft.core.DirSwap.recoverAt(spark, srcPath)
    val hc = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val dst = new org.apache.hadoop.fs.Path(dstPath)
    val fs = src.getFileSystem(hc)
    if (!fs.exists(src)) return // absent src IS an empty layout
    require(fs.exists(dst), s"merge destination $dstPath does not exist")
    require(fs.exists(new org.apache.hadoop.fs.Path(modelPath(srcPath))) &&
        fs.exists(new org.apache.hadoop.fs.Path(modelPath(dstPath))),
      "mergeInto needs _model persisted on BOTH layouts (Ivf.saveModel/" +
        "ensurePair): it is the only witness that the codes are " +
        "assigned under one quantizer")
    require(persistedModelsMatch(spark, modelPath(srcPath),
        modelPath(dstPath)),
      s"$srcPath and $dstPath are assigned under DIFFERENT coarse " +
        "quantizers — rebuild one side under the other's model")
    val spq = new org.apache.hadoop.fs.Path(pqPath(srcPath))
    val dpq = new org.apache.hadoop.fs.Path(pqPath(dstPath))
    require(fs.exists(spq) == fs.exists(dpq),
      s"one of $srcPath/$dstPath is PQ-coded and the other is not")
    if (fs.exists(spq))
      require(persistedPqsMatch(spark, pqPath(srcPath), pqPath(dstPath)),
        s"$srcPath and $dstPath are encoded under DIFFERENT codebooks")
    // a DATA-LESS layout (metadata sidecars only — e.g. one side of a
    // paired hybrid shard whose id range held no vectors) is an empty
    // index: nothing to fold, schema-check, or move — and reading it
    // for schema inference would die on UNABLE_TO_INFER_SCHEMA
    def hasData(p: String) = Tombstones.hasData(spark, p, "cluster=")
    if (!hasData(srcPath)) {
      fs.delete(src, true) // consume the empty shard wholesale
      fs.delete(new org.apache.hadoop.fs.Path(s"${srcPath}__ledger"), true)
      return
    }
    // codec-marker parity (int8 vs BQ — identical metadata otherwise;
    // see readSegmentsServing's twin check). AFTER the data-less
    // short-circuit: an empty shard has no codes to mix, whatever its
    // leftover markers say
    require(readCodec(spark, srcPath) == readCodec(spark, dstPath),
      s"$srcPath (${readCodec(spark, srcPath).getOrElse("unmarked")}) and " +
        s"$dstPath (${readCodec(spark, dstPath).getOrElse("unmarked")}) " +
        "hold codes under DIFFERENT ENCODINGs — the merged bytes would " +
        "score silently wrong; rebuild one side")
    // src sidecars fold BEFORE the move; schema check after (folding
    // a versioned layout keeps its seq column, so the check is stable)
    foldTombstones(spark, srcPath, idCol)
    foldVersions(spark, srcPath, idCol)
    // the folds can empty src OUTRIGHT — a fully-tombstoned segment's
    // rewrite DELETES the zero-row layout rather than promoting a
    // _SUCCESS-only dir (ParquetCompact.rewrite's empty contract) —
    // so re-check and consume it wholesale like the data-less shard;
    // reading its schema below would die on PATH_NOT_FOUND
    if (!hasData(srcPath)) {
      fs.delete(src, true)
      fs.delete(new org.apache.hadoop.fs.Path(s"${srcPath}__ledger"), true)
      return
    }
    if (hasData(dstPath)) {
      val sFields = spark.read.parquet(srcPath).schema.fieldNames.toSet
      val dFields = spark.read.parquet(dstPath).schema.fieldNames.toSet
      require(sFields == dFields,
        s"layout schemas differ: src $sFields vs dst $dFields — a " +
          "versioned layout cannot absorb an unversioned one")
    }
    // src's `_radii` sidecar (RangeSearch) rides along: radii are
    // ADDITIVE (readers take the per-cluster max) and the model check
    // above guarantees both sides share one cluster keying, so the
    // moved rows keep the triangle-inequality prune SOUND over the
    // merged members — discarding them could leave a merged vector
    // past dst's recorded radius and silently drop qualifying range
    // hits. Moved BEFORE the cluster dirs: a crashed merge's re-run
    // consumes a data-less src wholesale, which must never strand an
    // unmoved sidecar. File renames are collision-free (parquet part
    // names carry a per-job UUID) and idempotent on re-run.
    val sRad = new org.apache.hadoop.fs.Path(s"$srcPath/_radii")
    if (fs.exists(sRad)) {
      val dRad = new org.apache.hadoop.fs.Path(s"$dstPath/_radii")
      fs.mkdirs(dRad)
      fs.listStatus(sRad).foreach { f =>
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dRad, n))
      }
      fs.delete(sRad, true)
    }
    graft.core.SegmentMerge.moveTree(fs, src, dst,
      keepDir = _.startsWith("cluster="))
    // src dies LAST — its _model must outlive the moves so a crashed
    // merge's re-run can still verify the pair before moving the rest
    fs.delete(src, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${srcPath}__ledger"), true)
  }

  /** A dense CODES layout's encoding — the one thing that varies
    * across the quantized tiers, so it is a value, not a method
    * family (faiss keeps one index interface with the code type as
    * its parameter: Jégou et al., "Product quantization for nearest
    * neighbor search", TPAMI 2011; Johnson et al., "Billion-scale
    * similarity search with GPUs", 2019). Each codec carries its
    * `_codec` marker, its per-posting encoder, its query-side columns
    * and its candidate score; the write, the append, the probe, the
    * shortlist and the exact rescore are ONE path each
    * ([[writeIndexCodes]], [[appendToIndexCodes]], [[searchCodes]]).
    * Bytes per posting, coarsest last: int8 d (4× under float32), PQ
    * and PQR m, BQ ceil(d/8). PQ and PQR carry trained codebooks;
    * int8 and BQ encode training-free.
    */
  sealed abstract class Codec(val marker: String) {
    /** The code of posting `vec` in cell `cluster`. */
    def encode(vec: Column, cluster: Column, model: IvfModel): Column

    /** Codebooks persisted beside the codes (`_pq`), if the codec
      * has them.
      */
    def codebooks: Option[Pq.PqModel] = None

    /** Does the candidate score only pick the k·oversample shortlist
      * for the exact cosine rescore (false: the score IS the result's
      * `sim`)?
      */
    private[pipeline] def rescores: Boolean = true

    /** Query-side columns, computed once per query before the probe
      * explodes it to its cells.
      */
    private[pipeline] def queryCols(qv: Column): Seq[Column]

    /** Query-side columns per (query, probed cell). */
    private[pipeline] def cellCols(qv: Column, cluster: Column,
                                   model: IvfModel): Seq[Column] = Nil

    /** Candidate score of a posting's `codes` against the query
      * columns.
      */
    private[pipeline] def score(codes: Column): Column

    /** The score's nearest-first sort order. */
    private[pipeline] def nearestFirst(score: Column): Column = score.desc

    /** `postings` (cluster, `vecCol`, …) plus their `codes`. */
    def codes(postings: DataFrame, vecCol: String,
              model: IvfModel): DataFrame =
      postings.withColumn("codes",
        encode(col(vecCol), col("cluster"), model))
  }

  object Codec {
    import graft.functions.VectorFunctions.{bitHamming, int8CosineSim, signBits}
    import graft.pipeline.{Pq => P}

    /** Symmetric int8 codes scored by the codegen'd exact-integer
      * cosine ([[graft.functions.Int8CosineSim]]) — final, no rescore.
      */
    case object Int8 extends Codec("int8") {
      def encode(vec: Column, cluster: Column, model: IvfModel): Column =
        Similarity.int8Codes(vec)
      override private[pipeline] def rescores: Boolean = false
      private[pipeline] def queryCols(qv: Column) =
        Seq(Similarity.int8Codes(qv).as("qc"))
      private[pipeline] def score(codes: Column) = int8CosineSim(codes, col("qc"))
    }

    /** Sign bits, shortlisted by symmetric Hamming distance (one
      * XOR+popcount per 64 dims; the query binarizes too). No
      * codebook pair to manage, so the layout can never drift from a
      * stale codebook.
      */
    case object Bq extends Codec("bq") {
      def encode(vec: Column, cluster: Column, model: IvfModel): Column =
        signBits(vec)
      private[pipeline] def queryCols(qv: Column) = Seq(signBits(qv).as("qc"))
      private[pipeline] def score(codes: Column) = bitHamming(codes, col("qc"))
      override private[pipeline] def nearestFirst(score: Column) = score.asc
    }

    /** The PQ codecs' shared query side: one m×ksub ADC table per
      * query, m lookups per candidate instead of d multiplies — the
      * scorer of [[graft.pipeline.Pq.pqTopK]].
      */
    sealed abstract class PqCodes(marker: String, pq: P.PqModel)
        extends Codec(marker) {
      override def codebooks: Option[P.PqModel] = Some(pq)
      private[pipeline] def queryCols(qv: Column) = Seq(P.lut(qv, pq).as("qt"))
      private[pipeline] def score(codes: Column) =
        P.adcDot(codes, col("qt"), pq.ksub)
    }

    /** Product-quantization codes of the raw vector (faiss IVFPQ). */
    final case class Pq(pq: P.PqModel) extends PqCodes("pq", pq) {
      def encode(vec: Column, cluster: Column, model: IvfModel): Column =
        P.encode(vec, pq)
    }

    /** PQ codes of each vector's RESIDUAL to its cell's centroid
      * (IVF-ADC, Jégou et al. §III; train with [[trainPqResidual]]).
      * Under the inner-product metric the ADC table stays
      * cell-independent and the cell enters only through q·centroid,
      * computed once per (query, probed cell) on the query side
      * ([[centroidDotCol]]), so a candidate costs m lookups and one
      * add.
      */
    final case class PqResidual(pq: P.PqModel) extends PqCodes("pqr", pq) {
      def encode(vec: Column, cluster: Column, model: IvfModel): Column =
        P.encode(residualCol(vec, cluster, model), pq)
      override private[pipeline] def cellCols(qv: Column, cluster: Column,
                                              model: IvfModel) =
        Seq(centroidDotCol(qv, cluster, model).as("cdot"))
      override private[pipeline] def score(codes: Column) =
        col("cdot") + super.score(codes)
    }

    /** The codec a `_codec` marker names; `pq` is the layout's
      * codebooks, read only for the PQ codecs.
      */
    def fromMarker(marker: String, pq: => P.PqModel): Codec =
      marker match {
        case "int8" => Int8
        case "bq" => Bq
        case "pq" => Pq(pq)
        case "pqr" => PqResidual(pq)
        case other => throw new IllegalArgumentException(
          s"unknown codes codec '$other' — refusing to decode")
      }

    /** The codec the layout at `path` was written with, its codebooks
      * loaded from the layout's own `_pq` — the restart path that
      * serves from what the layout persisted.
      */
    def of(spark: SparkSession, path: String): Codec =
      fromMarker(readCodec(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"$path carries no _codec marker — not a codes layout")),
        loadPq(spark, path))
  }

  /** Persist a CODES layout: the cluster-assigned `postings` with
    * `vecCol` replaced by its `codec` codes, partitioned like
    * [[writeIndex]] (same PartitionFilters pruning; `payloadCols`
    * are the same secondary keys for directory-level filter
    * pruning). Sidecars follow the data in one order for every
    * codec: `_model`, then `_pq` where the codec has codebooks, then
    * the `_codec` stamp LAST, so a stamped layout always holds every
    * model it serves with. PQ and PQR codes are meaningless without
    * the coarse quantizer, so those writes require `model`; int8 and
    * BQ encode without it, but persisting it turns a later append's
    * first-contact SAVE into a VERIFY ([[ensurePair]]) — every writer
    * that holds the model should pass it.
    */
  def writeIndexCodes(postings: DataFrame, vecCol: String, codec: Codec,
                      path: String, payloadCols: Seq[String] = Nil,
                      model: Option[IvfModel] = None): Unit = {
    require(model.isDefined || codec.codebooks.isEmpty,
      s"${codec.marker} codes need their coarse quantizer: pass model")
    val spark = postings.sparkSession
    // int8 and BQ encodes never read the model
    graft.core.KeyedWrite.spread(
        codec.codes(postings, vecCol, model.orNull).drop(vecCol),
        "cluster" +: payloadCols)
      .write.mode("overwrite")
      .partitionBy("cluster" +: payloadCols: _*).parquet(path)
    model.foreach(m => saveModel(spark, m, modelPath(path)))
    codec.codebooks.foreach(p => Pq.saveModel(spark, p, pqPath(path)))
    // the overwrite wiped any prior marker with the layout it marked
    stampCodec(spark, path, codec, fresh = true)
  }

  /** Incremental maintenance for a CODES layout — "train rarely,
    * append forever" on the layout that serves at scale: assign the
    * increment under the frozen coarse quantizer, encode it through
    * `codec`, dynamic-partition append. Assignment and encoding are
    * pure per-row functions of (vector, models), so the grown layout
    * is row-identical to a one-shot [[writeIndexCodes]] over the
    * union (the incremental rows are oracled against the one-shot
    * goldens). The partition depth is the layout's own
    * ([[payloadColsOf]]): plain layouts append under cluster=,
    * payload layouts under the full `cluster +: payload` depth, and
    * the increment must then carry every payload column. Every
    * append passes two witnesses first: [[stampCodec]] refuses a
    * layout holding another codec (or unmarked bytes), then
    * [[ensurePair]] verifies the coarse quantizer and codebooks
    * against the layout's persisted ones — saving them on first
    * contact when the writer did not — so codes encoded under a
    * foreign model never land.
    */
  def appendToIndexCodes(df: DataFrame, vecCol: String, codec: Codec,
                         model: IvfModel, path: String): Unit = {
    val spark = df.sparkSession
    graft.core.DirSwap.recoverAt(spark, path) // see appendToIndex
    val parts = appendPartitions(df, path)
    stampCodec(spark, path, codec)
    ensurePair(spark, model, codec.codebooks, path)
    graft.core.KeyedWrite.spread(
        codec.codes(assign(df, vecCol, model), vecCol, model).drop(vecCol),
        parts)
      .write.mode(SaveMode.Append).partitionBy(parts: _*).parquet(path)
  }

  /** Batched ANN search: probe the nprobe nearest lists per query via
    * a cluster equi-join, rescore exactly, rank per query.
    */
  def search(postings: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, model: IvfModel, k: Int,
             nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("cluster", explode(nearestCol(col("qv"), model, nprobe)))
    val c = postings.select(col("cluster"), col(idCol).as("nid"), col(vecCol).as("nv"))
    val cand = c.join(broadcast(q), Seq("cluster"))
      .where(if (excludeSelf) col("nid") =!= col("qid") else lit(true))
      .dropDuplicates("qid", "nid")
    val scored = cand.select(col("qid"), col("nid"),
      cosineSimD(col("nv"), col("qv")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Canonical location of a codes layout's persisted codebooks —
    * `_pq` inside the layout, the [[modelPath]] convention.
    */
  def pqPath(indexPath: String): String = s"$indexPath/_pq"

  /** Persist-or-VERIFY the serving pair at a layout root: first
    * contact saves; when a pair is already persisted, the passed
    * one must match it bit-for-bit — appending codes encoded under
    * a different quantizer/codebook than the layout's would make
    * every later serve decode garbage SILENTLY, so a mismatch is a
    * loud error, never an overwrite. The supported re-ingest path
    * is [[loadModel]]/[[loadPq]] the persisted pair and pass that.
    */
  def ensurePair(spark: SparkSession, model: IvfModel,
                 pq: Option[Pq.PqModel], path: String): Unit = {
    // the persisted pair lives INSIDE the layout — recover a parked
    // layout first or first-contact logic would re-save over a pair
    // that still exists at __old
    graft.core.DirSwap.recoverAt(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = modelPath(path)
    if (fs.exists(new org.apache.hadoop.fs.Path(mp))) {
      require(modelMatchesPersisted(spark, mp, model),
        s"$path already holds codes assigned under a DIFFERENT coarse " +
          "quantizer — pass the persisted pair (Ivf.loadModel/loadPq), " +
          "or rebuild the layout under the new one")
    } else saveModel(spark, model, mp)
    pq.foreach { p =>
      val pp = pqPath(path)
      if (fs.exists(new org.apache.hadoop.fs.Path(pp))) {
        require(pqMatchesPersisted(spark, pp, p),
          s"$path already holds codes encoded under DIFFERENT codebooks " +
            "— pass the persisted pair (Ivf.loadPq), or rebuild")
      } else Pq.saveModel(spark, p, pp)
    }
  }

  /** [[modelMatchesPersisted]]'s codebook twin. */
  private def pqMatchesPersisted(spark: SparkSession, pp: String,
                                 p: Pq.PqModel): Boolean =
    graft.core.DigestSidecar.read(spark, pp) match {
      case Some(d) => d == Pq.digest(p)
      case None => samePq(Pq.loadModel(spark, pp), p)
    }

  /** [[persistedModelsMatch]]'s codebook twin. */
  private def persistedPqsMatch(spark: SparkSession, a: String,
                                b: String): Boolean =
    (graft.core.DigestSidecar.read(spark, a),
      graft.core.DigestSidecar.read(spark, b)) match {
      case (Some(x), Some(y)) => x == y
      case _ => samePq(Pq.loadModel(spark, a), Pq.loadModel(spark, b))
    }

  private def samePq(prev: Pq.PqModel, p: Pq.PqModel): Boolean =
    prev.m == p.m && prev.dsub == p.dsub && prev.ksub == p.ksub &&
      (0 until p.m).forall(j => (0 until p.ksub).forall(c =>
        prev.codebooks(j)(c).sameElements(p.codebooks(j)(c))))

  private[pipeline] def sameModel(a: IvfModel, b: IvfModel): Boolean =
    a.centroids.length == b.centroids.length &&
      a.centroids.zip(b.centroids).forall { case (x, y) => x.sameElements(y) } &&
      a.l1.length == b.l1.length &&
      a.l1.zip(b.l1).forall { case (x, y) => x.sameElements(y) } &&
      a.children.length == b.children.length &&
      a.children.zip(b.children).forall { case (x, y) => x.sameElements(y) }

  /** Read back the codebooks persisted with a codes layout. */
  def loadPq(spark: SparkSession, indexPath: String): Pq.PqModel =
    Pq.loadModel(spark, pqPath(indexPath))

  /** Residual of `vec` against `cluster`'s centroid (codegen'd
    * [[IvfResidual]]) — the IVF-ADC encoding input.
    */
  def residualCol(vec: Column, cluster: Column, model: IvfModel): Column =
    graft.functions.ColumnBridge.column(IvfResidual(
      graft.functions.ColumnBridge.expression(vec),
      graft.functions.ColumnBridge.expression(cluster), model))

  /** dot(vec, centroids(cluster)) (codegen'd [[IvfCentroidDot]]) —
    * the query-side additive term of residual ADC scoring.
    */
  def centroidDotCol(vec: Column, cluster: Column, model: IvfModel): Column =
    graft.functions.ColumnBridge.column(IvfCentroidDot(
      graft.functions.ColumnBridge.expression(vec),
      graft.functions.ColumnBridge.expression(cluster), model))

  /** Train the RESIDUAL product quantizer (IVF-ADC, Jégou et al. 2011
    * §III): each training vector is replaced by its residual to its
    * assigned coarse centroid, and the per-subspace codebooks are fit
    * to those residuals. The r9 recall sweep proved the codes — not
    * the probe breadth — bound IVF-PQ recall (0.32 at m=8 regardless
    * of nprobe); residuals are the standard fix that buys recall at
    * the SAME code size, because the codebooks only have to cover the
    * within-cell spread instead of the whole embedding space.
    *
    * One bounded sample collection; residuals fold on the driver in
    * id order (exact double subtract, float32 narrow — both
    * single-rounded, oracle-replayable). The coarse `model` must be
    * the one the index is assigned with (frozen-parameters contract).
    */
  def trainPqResidual(df: DataFrame, vecCol: String, idCol: String,
                      model: IvfModel, m: Int = 8, ksub: Int = 16,
                      iters: Int = 3, seed: Long = 42L,
                      maxTrainRows: Long = 200000L): Pq.PqModel = {
    val sample = TrainSample.collect(df, vecCol, idCol, seed, maxTrainRows)
    val resid = sample.map { case (id, v) =>
      val c = model.centroids(model.nearestDescend(v, 1)(0))
      val r = new Array[Float](v.length)
      var i = 0
      while (i < v.length) {
        val cv = if (i < c.length) c(i).toDouble else 0.0
        r(i) = (v(i).toDouble - cv).toFloat
        i += 1
      }
      (id, r)
    }
    Pq.trainFromSample(resid, m, ksub, iters, seed)
  }

  /** PAYLOAD-FILTERED ANN — the reference's filter-inside-search
    * (debgpt/vector_service/app.py:250-263: the Qdrant
    * `Filter(must=[FieldCondition(...)])` applied INSIDE the vector
    * search) at index scale. Semantics: exact-search-over-the-
    * filtered-corpus semantics under an approximate probe — the
    * predicate restricts the CANDIDATE set, never the ranking
    * contract.
    *
    * Two standard-vector-db pieces compose:
    *
    *  - PRE-FILTER: `filter` applies to the postings/codes frame
    *    BEFORE the cluster join, i.e. below the per-cluster ranking
    *    window — on a persisted layout whose payload columns ride
    *    the postings, Catalyst pushes it into the parquet scan
    *    (PushedFilters), so non-matching postings are never read,
    *    let alone scored. Post-filtering a top-k list instead would
    *    under-fill k at exactly the selectivities that matter.
    *
    *  - ADAPTIVE PROBE WIDENING, PER QUERY: a selective filter thins
    *    every probed cell, so a fixed nprobe under-fills k. The
    *    driver loop doubles nprobe — but each round re-probes ONLY
    *    the queries still under k survivors: a query filled at
    *    nprobe p keeps its p-cell result (its own stopping rule, as
    *    in any per-query vector-db widening), while the stragglers
    *    escalate toward the exhaustive probe (nprobe = nlist) — at
    *    which point THEIR result is EXACT over the filtered corpus,
    *    so a filter with fewer than k matches degrades gracefully to
    *    "all matches, exactly ranked" instead of silently
    *    under-filling. Geometric schedule ⇒ a query's total probe
    *    work ≤ 2× its final breadth, and at 100 TB the expensive
    *    wide rounds carry only the rare starved queries instead of
    *    re-shuffling the whole batch. The fill check aggregates the
    *    ≤ |queries|·k result rows, never the corpus, and the
    *    queries frame is contract-bounded (broadcast-small
    *    everywhere in this family), so the per-round id collections
    *    are driver-cheap.
    */
  private[pipeline] def adaptiveFill(queries: DataFrame, idCol: String,
                                     k: Int, nlist: Int, nprobe0: Int)
                                    (run: (DataFrame, Int) => DataFrame): DataFrame = {
    // Pin ledger: each probe round is checkpointed (consumed by both
    // the fill check and the result union), superseded rounds and
    // straggler query frames are released as they die, and the
    // RETURNED frame rides at most two tiny pins (≤ |queries|·k rows)
    // until the session's next sweep — the crossJaccardPairsBloom
    // pin-note convention.
    var pending = queries
    var pendingPinned = false
    var p = math.max(1, math.min(nprobe0, nlist))
    var acc: Option[DataFrame] = None
    def finish(res: DataFrame): DataFrame = {
      if (pendingPinned) graft.core.Pinned.release(pending)
      acc.map(_.unionByName(res)).getOrElse(res)
    }
    while (true) {
      val res = run(pending, p).localCheckpoint(true)
      if (p >= nlist)
        // exhaustive: whatever survived IS the filtered truth
        return finish(res)
      // ≤ |queries|·k rows: which pending queries reached k?
      val filledIds = res.groupBy(col("qid")).count()
        .where(col("count") >= k).select(col("qid"))
        .collect().map(_.get(0)).toSeq
      val nPending = pending.select(col(idCol)).distinct().count()
      if (filledIds.length == nPending)
        return finish(res)
      if (filledIds.nonEmpty) {
        val done = res.where(col("qid").isInCollection(filledIds))
        val next = acc.map(_.unionByName(done)).getOrElse(done)
          .localCheckpoint(true)
        acc.foreach(graft.core.Pinned.release)
        graft.core.Pinned.release(res)
        acc = Some(next)
        val stillPending = pending
          .where(!col(idCol).isInCollection(filledIds))
          .localCheckpoint(true)
        if (pendingPinned) graft.core.Pinned.release(pending)
        pending = stillPending
        pendingPinned = true
      } else graft.core.Pinned.release(res)
      p = math.min(p * 2, nlist)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Filter-inside-search over float postings (see [[adaptiveFill]]
    * for the semantics and the plan argument). `filter` is any
    * predicate over the postings frame's columns — payload columns
    * that ride the layout push down to the scan.
    */
  def searchFiltered(postings: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, model: IvfModel,
                     k: Int, filter: Column, nprobe0: Int = 4,
                     excludeSelf: Boolean = true): DataFrame = {
    val filtered = postings.where(filter)
    adaptiveFill(queries, idCol, k, model.nlist, nprobe0)((qs, p) =>
      search(filtered, qs, vecCol, idCol, model, k, p, excludeSelf))
  }

  /** Serve a CODES layout (cluster, id, codes, …) — the
    * billion-scale composition: cluster pruning bounds WHICH postings
    * a query touches (~nprobe/nlist, partition-pruned on disk), the
    * codes bound the BYTES per touched posting and the CPU per
    * candidate, and no float vector enters the candidate path.
    *
    * One plan for every codec: the queries explode to their nprobe
    * nearest cells and join the postings broadcast-side, drop self
    * matches and duplicate (query, posting) pairs, and score by the
    * codec. The int8 score is the exact-integer cosine and ranks the
    * result directly. The BQ, PQ and PQR scores only pick each
    * query's k·oversample shortlist (ties to the smaller id, so the
    * stage is deterministic and oracle-replayable); the survivors —
    * queries × k × oversample rows — back-join the full-vector table
    * `vectors` (id, `vecCol`) broadcast-side, a semi-probe that never
    * shuffles it, for the exact cosine rescore. METRIC CONTRACT of
    * those three: inner-product (PQ, PQR) or Hamming (BQ) shortlist,
    * cosine rescore — L2-normalize first for cosine recall guarantees
    * on un-normalized corpora. int8 never reads `vectors`.
    *
    * In-memory float postings (cluster, id, `vecCol` — no `codes`
    * column) are the one other plan: they encode on the fly and rank
    * exactly as the persisted layout does, and their candidates carry
    * their vectors through the shortlist and rescore in the same
    * pass, so `vectors` is not read (no back-join, no second scan of
    * the postings).
    */
  def searchCodes(index: DataFrame, vectors: DataFrame, queries: DataFrame,
                  vecCol: String, idCol: String, codec: Codec,
                  model: IvfModel, k: Int, nprobe: Int = 4,
                  oversample: Int = DefaultOversample): DataFrame =
    codesTopK(index, vectors,
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")),
      vecCol, idCol, codec, model, k, nprobe, oversample)

  /** The shortlist codecs' default k·oversample factor. */
  private final val DefaultOversample = 4

  /** [[searchCodes]]' probe, score and rescore over a query frame
    * `q0` of (qid, qv, carried columns…): the carried columns ride
    * into the result beside qid. `keys` are extra candidate join keys
    * the postings project from `index` (the grouped serve's tenant);
    * `self`, if set, is the query column a posting id must differ
    * from.
    */
  private def codesTopK(index: DataFrame, vectors: DataFrame,
                        q0: DataFrame, vecCol: String, idCol: String,
                        codec: Codec, model: IvfModel, k: Int,
                        nprobe: Int, oversample: Int,
                        keys: Seq[(String, Column)] = Nil,
                        self: Option[String] = Some("qid")): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    val head = col("qid") +: q0.columns.toSeq
      .filterNot(c => c == "qid" || c == "qv").map(col)
    val q = q0.select(col("*") +: codec.queryCols(col("qv")): _*)
      .withColumn("cluster", explode(nearestCol(col("qv"), model, nprobe)))
    val qc = q.select(
      col("*") +: codec.cellCols(col("qv"), col("cluster"), model): _*)
    // float postings encode on the fly and rescore in frame: the
    // candidates carry both vectors
    val float = !index.columns.contains("codes")
    val inFrame = float && codec.rescores
    val vecs = if (inFrame) Seq(col("nv"), col("qv")) else Nil
    val codes =
      if (float) codec.encode(col(vecCol), col("cluster"), model) else col("codes")
    val c = index.select(Seq(col("cluster"), col(idCol).as("nid"),
      codes.as("codes")) ++ (if (inFrame) Seq(col(vecCol).as("nv")) else Nil) ++
      keys.map { case (n, e) => e.as(n) }: _*)
    val cand = c.join(broadcast(if (inFrame) qc else qc.drop("qv")),
        "cluster" +: keys.map(_._1))
      .where(self.fold(lit(true))(s => col("nid") =!= col(s)))
      .dropDuplicates("qid", "nid")
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    val scored =
      if (!codec.rescores)
        cand.select(head :+ col("nid") :+ codec.score(col("codes")).as("sim"): _*)
      else {
        val w1 = Window.partitionBy(col("qid"))
          .orderBy(codec.nearestFirst(col("sima")), col("nid").asc)
        val short = cand
          .select((head :+ col("nid")) ++ vecs :+
            codec.score(col("codes")).as("sima"): _*)
          .withColumn("rk1", row_number().over(w1))
          .where(col("rk1") <= k * oversample)
        val survivors = if (inFrame) short else {
          val nv = vectors.select(col(idCol).as("nid"), col(vecCol).as("nv"))
          val qv = q.select(col("qid"), col("qv")).dropDuplicates("qid")
          nv.join(broadcast(short.select(head :+ col("nid"): _*)), Seq("nid"))
            .join(broadcast(qv), Seq("qid"))
        }
        survivors.select(head :+ col("nid") :+
          cosineSimD(col("nv"), col("qv")).as("sim"): _*)
      }
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
  }

  /** Filter-inside-search over a CODES layout ([[searchCodes]]
    * serving shape; see [[adaptiveFill]] for the semantics): the
    * probe still reads only matching cluster partitions and codes
    * bytes, and the payload predicate prunes below that. Exactness
    * at the exhaustive probe: int8 is exact over the filtered
    * corpus; the shortlist codecs still cut at k·oversample, so they
    * are exact whenever the filter matches ≤ k·oversample postings
    * (the shortlist then holds EVERY match and the rescore ranks
    * exactly) — the regime a selective payload filter is in by
    * definition.
    */
  def searchCodesFiltered(index: DataFrame, vectors: DataFrame,
                          queries: DataFrame, vecCol: String,
                          idCol: String, codec: Codec, model: IvfModel,
                          k: Int, filter: Column, nprobe0: Int = 4,
                          oversample: Int = DefaultOversample): DataFrame = {
    val filtered = index.where(filter)
    adaptiveFill(queries, idCol, k, model.nlist, nprobe0)((qs, p) =>
      searchCodes(filtered, vectors, qs, vecCol, idCol, codec, model, k,
        p, oversample))
  }

  /** INJECTIVE (query, group) → string key for the grouped fill
    * bookkeeping: '%' then '#' are escaped in each component before
    * the '#' join, so a group value containing the separator
    * (groupCol is an arbitrary payload column) can never collide two
    * distinct (query, group) pairs into one gqid — a collision would
    * merge their fill accounting and top-k windows in
    * [[adaptiveFill]].
    */
  private def gqidKey(oqid: Column, grp: Column): Column = {
    def esc(c: Column) = regexp_replace(
      regexp_replace(c.cast("string"), "%", "%25"), "#", "%23")
    concat_ws("#", esc(oqid), esc(grp))
  }

  /** GROUPED top-k — multi-tenant serving: top-k PER (query, group)
    * over a layout whose `groupCol` rides the postings, in ONE
    * probe pass. Where a per-group loop would probe the index once
    * per tenant, here the candidate join key is (cluster, group):
    * each posting meets only the query rows probing ITS tenant, so
    * tenant isolation is free join pruning, not post-filtering —
    * the batched generalization of the reference's per-conversation
    * filter (app.py:250-263) to "context for EVERY conversation in
    * one pass" (per-source retrieval quotas, per-shard dedup
    * candidates, per-domain nearest neighbors).
    *
    * `groups` is one column named `groupCol` and must be
    * contract-bounded like the queries frame (queries × groups
    * broadcasts). Fill semantics ride [[adaptiveFill]] with the
    * synthetic (query, group) id: a dense tenant stops at its narrow
    * probe, a sparse one escalates per-tenant to the exhaustive
    * probe — at which point its rows are EXACT over that tenant's
    * postings (`nprobe0 = nlist` forces that for every tenant, the
    * gate-row configuration).
    */
  def searchGrouped(postings: DataFrame, queries: DataFrame,
                    vecCol: String, idCol: String, model: IvfModel,
                    k: Int, groupCol: String, groups: DataFrame,
                    nprobe0: Int = 4,
                    excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    val qx = queries.select(col(idCol).as("__oqid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(groups.select(col(groupCol).as("__grp")).distinct()))
      .withColumn("gqid", gqidKey(col("__oqid"), col("__grp")))
    val res = adaptiveFill(qx, "gqid", k, model.nlist, nprobe0) { (qs, p) =>
      val q = qs.select(col("gqid").as("qid"), col("__oqid"), col("__grp"),
          col("qv"))
        .withColumn("cluster", explode(nearestCol(col("qv"), model, p)))
      val c = postings.select(col("cluster"), col(idCol).as("nid"),
        col(groupCol).as("__grp"), col(vecCol).as("nv"))
      val cand = c.join(broadcast(q), Seq("cluster", "__grp"))
        .where(if (excludeSelf) col("nid") =!= col("__oqid") else lit(true))
        .dropDuplicates("qid", "nid")
      val scored = cand.select(col("qid"), col("__oqid"), col("__grp"),
        col("nid"), cosineSimD(col("nv"), col("qv")).as("sim"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid").asc)
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
    }
    res.select(col("__oqid").as("qid"), col("__grp").as(groupCol),
      col("nid"), col("sim"), col("rk"))
  }

  /** [[searchGrouped]] from a CODES layout — the same (cluster, group)
    * candidate join over compressed postings, scored (and, for the
    * shortlist codecs, rescored against `vectors`) by [[searchCodes]]'
    * own core.
    */
  def searchCodesGrouped(index: DataFrame, vectors: DataFrame,
                         queries: DataFrame, vecCol: String, idCol: String,
                         codec: Codec, model: IvfModel, k: Int,
                         groupCol: String, groups: DataFrame,
                         nprobe0: Int = 4,
                         excludeSelf: Boolean = true): DataFrame = {
    val qx = queries.select(col(idCol).as("__oqid"), col(vecCol).as("qv"))
      .crossJoin(broadcast(groups.select(col(groupCol).as("__grp")).distinct()))
      .withColumn("gqid", gqidKey(col("__oqid"), col("__grp")))
    val res = adaptiveFill(qx, "gqid", k, model.nlist, nprobe0) { (qs, p) =>
      codesTopK(index, vectors,
        qs.select(col("gqid").as("qid"), col("__oqid"), col("__grp"),
          col("qv")),
        vecCol, idCol, codec, model, k, p, DefaultOversample,
        keys = Seq("__grp" -> col(groupCol)),
        self = if (excludeSelf) Some("__oqid") else None)
    }
    res.select(col("__oqid").as("qid"), col("__grp").as(groupCol),
      col("nid"), col("sim"), col("rk"))
  }
}
