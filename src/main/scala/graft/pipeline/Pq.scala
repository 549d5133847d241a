package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization (Jégou et al. 2011, "Product quantization for
  * nearest neighbor search", IEEE TPAMI) — the vector-compression
  * workhorse under billion-scale indexes (faiss IVF-PQ): the vector
  * splits into `m` subspaces, each quantized by its own small L2
  * k-means codebook, so a dim-float vector stores as m BYTES (dim=64,
  * m=8 → 32× under float32, 8× under int8 codes). Search scores codes
  * WITHOUT reconstruction: per query, one m×ksub lookup table of
  * subspace dot products (ADC — asymmetric distance computation),
  * then each candidate costs m table lookups instead of dim
  * multiplies.
  *
  * Train is the bounded-driver-fold shape of every quantizer here
  * (sample collected sorted by id, sequential plain-L2 k-means per
  * subspace — assignment by min squared distance with index ties,
  * mean updates, NO normalization: PQ quantizes positions, not
  * directions). All arithmetic is sequential IEEE double, so codes,
  * tables, and ADC scores replay bit-for-bit in the Python oracle.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (dsub floats each). */
  final class PqModel(val m: Int, val dsub: Int,
                      val codebooks: Array[Array[Array[Float]]])
      extends Serializable {
    def ksub: Int = codebooks(0).length

    /** Per-subspace assignment indexes (the code bytes as ints) — the
      * [[PqAssign]] kernel; same rule as [[encodeData]].
      */
    def assignData(arr: ArrayData, isFloat: Boolean): ArrayData = {
      val bytes = encodeData(arr, isFloat)
      val out = new Array[Int](m)
      var j = 0
      while (j < m) { out(j) = bytes(j) & 0xff; j += 1 }
      ArrayData.toArrayData(out)
    }

    /** m-byte code of one vector read from ArrayData. */
    def encodeData(arr: ArrayData, isFloat: Boolean): Array[Byte] = {
      val out = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val cb = codebooks(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cb.length) {
          var d = 0.0
          var i = 0
          while (i < dsub) {
            val idx = j * dsub + i
            val x = if (idx < arr.numElements()) {
              if (isFloat) arr.getFloat(idx).toDouble else arr.getDouble(idx)
            } else 0.0
            val diff = x - cb(c)(i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        out(j) = best.toByte
        j += 1
      }
      out
    }

    /** ADC lookup table for one query: lut(j·ksub + c) = dot(q_j, cb_j_c). */
    def lutData(arr: ArrayData, isFloat: Boolean): ArrayData = {
      val out = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = codebooks(j)
        var c = 0
        while (c < cb.length) {
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val idx = j * dsub + i
            val x = if (idx < arr.numElements()) {
              if (isFloat) arr.getFloat(idx).toDouble else arr.getDouble(idx)
            } else 0.0
            s += x * cb(c)(i)
            i += 1
          }
          out(j * ksub + c) = s
          c += 1
        }
        j += 1
      }
      ArrayData.toArrayData(out)
    }
  }

  def train(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
            ksub: Int = 16, iters: Int = 3, seed: Long = 42L,
            maxTrainRows: Long = 200000L): PqModel =
    trainFromSample(TrainSample.collect(df, vecCol, idCol, seed, maxTrainRows),
      m, ksub, iters, seed)

  /** [[train]] from an already-collected id-sorted sample — for
    * callers that derive the training vectors themselves (the
    * residual encoder [[Ivf.trainPqResidual]] trains on per-cell
    * residuals, not raw vectors) and must not pay a second collection
    * pass. Same deterministic per-subspace fold.
    */
  def trainFromSample(sample: Array[(Long, Array[Float])], m: Int = 8,
                      ksub: Int = 16, iters: Int = 3,
                      seed: Long = 42L): PqModel = {
    require(ksub >= 1 && ksub <= 256, "ksub must fit one byte")
    require(sample.nonEmpty, "cannot train on an empty sample")
    val dim = sample.head._2.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      }
      kmeansFoldL2(sub, ksub, iters, seed + j)
    }
    new PqModel(m, dsub, codebooks)
  }

  /** Fixed-point scale of [[trainDistributed]]'s component sums —
    * the [[Ivf.TrainFixedPointScale]] design: long sums make the
    * distributed per-subspace fold order-independent, hence
    * bit-reproducible and oracle-able.
    */
  val TrainFixedPointScale: Double = (1L << 24).toDouble

  /** Distributed PQ train over the FULL corpus — the scale path past
    * [[train]]'s bounded driver sample; with this the whole quantizer
    * trainer family (IVF coarse, PCA basis, PQ codebooks) has a
    * deterministic full-corpus variant. Each iteration is ONE
    * distributed pass: the codegen'd [[PqAssign]] kernel (the
    * [[encode]] rule, as indexes) feeds a posexploded fixed-point
    * component sum partially aggregated to m × ksub × dsub
    * (sum, count) longs per partition — integer sums, so the
    * codebooks are bit-identical across partitionings and re-runs.
    *
    * Its own pinned algorithm, deliberately NOT bit-equal to
    * [[train]]: init takes the ksub splitmix64-smallest rows ONCE and
    * slices every subspace from the SAME rows (the sample fold draws
    * per-subspace inits with seed + j), and accumulation is
    * fixed-point rather than sequential double. The Python oracle
    * replays this variant exactly. Mean updates are plain L2 (no
    * normalization — PQ quantizes positions); empty clusters keep
    * their centroid; rows must share one dim with dim % m == 0 (the
    * [[train]] contract).
    */
  def trainDistributed(df: DataFrame, vecCol: String, idCol: String,
                       m: Int = 8, ksub: Int = 16, iters: Int = 3,
                       seed: Long = 42L): PqModel = {
    require(ksub >= 1 && ksub <= 256, "ksub must fit one byte")
    val dimRow = df.agg(max(size(col(vecCol)))).head()
    require(!dimRow.isNullAt(0), "cannot train on an empty corpus")
    val dim = dimRow.getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val idL = col(idCol).cast("long")
    val init: Array[Array[Float]] = df
      .select(idL.as("_tid"), col(vecCol).cast("array<float>").as("_tv"))
      // null/empty-vec rows train nothing (Ivf.trainDistributed's
      // init rule): unfiltered they would NPE the collect or seed
      // zero-dim codebooks
      .where(col("_tv").isNotNull && size(col("_tv")) > 0)
      .orderBy(graft.functions.HashFunctions.splitmix64(col("_tid"), seed),
        col("_tid"))
      .limit(ksub)
      .collect()
      .map(r => (splitmix64(r.getLong(0) + seed), r.getLong(0),
        r.getSeq[Float](1).toArray))
      .sortBy { case (h, id, _) => (h, id) }
      .map(_._3)
    require(init.nonEmpty, "cannot train on an empty corpus")
    var codebooks = Array.tabulate(m)(j => init.map(v =>
      java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)))
    val F = TrainFixedPointScale
    for (_ <- 1 to iters) {
      val model = new PqModel(m, dsub, codebooks)
      val agg = df
        .select(graft.functions.ColumnBridge.column(PqAssign(
            graft.functions.ColumnBridge.expression(
              col(vecCol).cast("array<float>")), model)).as("_asg"),
          posexplode(col(vecCol).cast("array<float>")))
        .where(col("pos") < dim)
        .select(
          (col("pos") / dsub).cast("int").as("_sub"),
          element_at(col("_asg"), (col("pos") / dsub).cast("int") + 1)
            .as("_c"),
          pmod(col("pos"), lit(dsub)).as("_i"),
          col("col"))
        .groupBy(col("_sub"), col("_c"), col("_i"))
        .agg(sum(round(col("col").cast("double") * F).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val k = codebooks(0).length
      val sums = Array.fill(m, k)(new Array[Long](dsub))
      val counts = Array.fill(m)(new Array[Long](k))
      agg.foreach { r =>
        val j = r.getInt(0); val c = r.getInt(1); val i = r.getInt(2)
        sums(j)(c)(i) = r.getLong(3)
        if (i == 0) counts(j)(c) = r.getLong(4)
      }
      codebooks = Array.tabulate(m)(j => codebooks(j).zipWithIndex.map {
        case (old, c) =>
          if (counts(j)(c) == 0) old // empty cluster keeps its centroid
          else sums(j)(c).map(s => ((s.toDouble / F) / counts(j)(c)).toFloat)
      })
    }
    new PqModel(m, dsub, codebooks)
  }

  /** Persist the codebooks — the other half of a restartable codes
    * layout: PQ codes are meaningless bytes without the PqModel that
    * decodes them, so the quantized writers store this WITH the
    * codes (`_pq` inside the layout, carried across swaps like
    * `_model`). One tiny parquet of (sub, code, vec, dsub) rows;
    * float32 centroids round-trip exactly.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, pq: PqModel,
                path: String): Unit = {
    import spark.implicits._
    (for (j <- 0 until pq.m; c <- 0 until pq.ksub)
      yield (j, c, pq.codebooks(j)(c), pq.dsub))
      .toDF("sub", "code", "vec", "dsub")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
    // digest sidecar: one FS read replaces the read+collect job in
    // every later codebook equality check (see Ivf.modelDigest)
    graft.core.DigestSidecar.write(spark, path, digest(pq))
  }

  /** Canonical SHA-256 of a codebook set — [[Ivf.modelDigest]]'s
    * twin for the PQ half of the persisted pair.
    */
  private[pipeline] def digest(pq: PqModel): String = {
    val b = new graft.core.DigestSidecar.Builder
    b.i32(pq.m).i32(pq.dsub).i32(pq.ksub)
    pq.codebooks.foreach { cb => b.i32(cb.length); cb.foreach(b.floats) }
    b.hex()
  }

  /** Read back a [[saveModel]] codebook set — bit-identical. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): PqModel = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("sub"), col("code"), col("vec"), col("dsub"))
      .as[(Int, Int, Array[Float], Int)].collect()
    val m = rows.iterator.map(_._1).max + 1
    val cbs = Array.tabulate(m)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    new PqModel(m, rows.head._4, cbs)
  }

  /** splitmix64 finalizer — seeds the deterministic centroid init. */
  @inline private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Plain (non-spherical) L2 k-means, sequential in id order:
    * splitmix64 pseudo-shuffle init, min-squared-distance assignment
    * (ties to the smaller index), mean updates, empty clusters keep
    * their centroid. The spherical fold in [[Ivf]] normalizes — right
    * for a coarse direction quantizer, wrong for PQ's positional
    * codebooks.
    */
  private def kmeansFoldL2(sample: Array[(Long, Array[Float])], k: Int,
                           iters: Int, seed: Long): Array[Array[Float]] = {
    var centroids: Array[Array[Float]] = sample
      .map { case (id, v) => (splitmix64(id + seed), id, v) }
      .sortBy { case (h, id, _) => (h, id) }
      .take(k).map(_._3)
    val dsub = centroids.head.length
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dsub))
      val counts = new Array[Long](centroids.length)
      sample.foreach { case (_, v) =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var d = 0.0
          var i = 0
          while (i < dsub) {
            val diff = v(i).toDouble - centroids(c)(i).toDouble
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dsub) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else {
          val nc = new Array[Float](dsub)
          var i = 0
          while (i < dsub) { nc(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
          nc
        }
      }
    }
    centroids
  }

  /** m-byte PQ codes column (codegen'd). */
  def encode(vec: Column, model: PqModel): Column =
    graft.functions.ColumnBridge.column(
      PqEncode(graft.functions.ColumnBridge.expression(vec), model))

  /** Per-query ADC lookup table column (codegen'd; queries side). */
  def lut(vec: Column, model: PqModel): Column =
    graft.functions.ColumnBridge.column(
      PqLut(graft.functions.ColumnBridge.expression(vec), model))

  /** ADC dot product: Σ_j lut[j·ksub + code_j] (codegen'd). */
  def adcDot(codes: Column, lutCol: Column, ksub: Int): Column =
    graft.functions.ColumnBridge.column(PqAdcDot(
      graft.functions.ColumnBridge.expression(codes),
      graft.functions.ColumnBridge.expression(lutCol), ksub))

  /** Two-stage PQ ANN: ADC-scored candidates from m-byte codes
    * (corpus scan reads codes + ids only), oversampled top-k per
    * query, exact full-vector rescore. At scale the codes column is
    * the stored index (32× under float32) and the full vectors are
    * back-joined for the oversampled candidates; here they ride along
    * for simplicity, which does not change results.
    *
    * METRIC CONTRACT: stage 1 ranks by ADC INNER PRODUCT while the
    * rescore (and the reported `sim`) is cosine — the same pairing
    * faiss's `IndexIVFPQ` + IP metric gives. On a corpus with wildly
    * varying vector norms, large-norm vectors dominate the shortlist
    * and small-norm true cosine neighbors can fall outside it
    * regardless of `oversample`; callers who want cosine recall
    * guarantees should L2-normalize the corpus and queries first
    * (the F4 normalizer, [[graft.functions.VectorFunctions]]), after
    * which IP ranking IS cosine ranking and the shortlist is
    * metric-consistent. Same contract applies to
    * [[graft.pipeline.Ivf.searchCodes]] under the PQ codecs, which
    * reuse this scorer.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, k: Int, model: PqModel,
             oversample: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.cosineSimD
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      encode(col(vecCol), model).as("nc"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      lut(col(vecCol), model).as("qt"))
    val stage1 = c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), col("nv"), col("qv"),
        adcDot(col("nc"), col("qt"), model.ksub).as("sima"))
    val w1 = Window.partitionBy(col("qid")).orderBy(col("sima").desc, col("nid").asc)
    val cand = stage1.withColumn("rk1", row_number().over(w1))
      .where(col("rk1") <= k * oversample)
    val w2 = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    cand.select(col("qid"), col("nid"),
        cosineSimD(col("nv"), col("qv")).as("sim"))
      .withColumn("rk", row_number().over(w2)).where(col("rk") <= k)
  }
}

/** m-byte PQ code of a vector (model as plan reference object). */
case class PqEncode(child: Expression, model: Pq.PqModel)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    model.encodeData(a.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdl = ctx.addReferenceObj("pqModel", model, classOf[Pq.PqModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mdl.encodeData($a, $isF);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-subspace assignment INDEXES as ARRAY<INT> — the same nearest
  * sub-centroid rule as [[PqEncode]] (min squared L2, ties to the
  * smaller index; the code bytes ARE the assignments) but in a form
  * SQL can index into, for [[Pq.trainDistributed]]'s per-iteration
  * (subspace, cluster, pos) aggregation — element_at on BINARY does
  * not exist.
  */
case class PqAssign(child: Expression, model: Pq.PqModel)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_assign"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    model.assignData(a.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdl = ctx.addReferenceObj("pqModel", model, classOf[Pq.PqModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mdl.assignData($a, $isF);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-query ADC lookup table (m×ksub subspace dots, flattened). */
case class PqLut(child: Expression, model: Pq.PqModel)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    model.lutData(a.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdl = ctx.addReferenceObj("pqModel", model, classOf[Pq.PqModel].getName)
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $mdl.lutData($a, $isF);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ADC dot: Σ_j lut[j·ksub + (code_j & 0xff)] — m lookups per pair. */
case class PqAdcDot(left: Expression, right: Expression, ksub: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (BINARY, ARRAY<DOUBLE>), got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcDot.compute(a.asInstanceOf[Array[Byte]],
      b.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.pipeline.PqAdcDot.compute($a, $b, $ksub);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcDot {
  /** Shared kernel for eval and generated code. */
  def compute(codes: Array[Byte], lut: ArrayData, ksub: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < codes.length) {
      s += lut.getDouble(j * ksub + (codes(j) & 0xff))
      j += 1
    }
    s
  }
}
