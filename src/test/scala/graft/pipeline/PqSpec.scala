package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Product quantization contracts: m-byte codes, ADC ≈ true dot on
  * quantizable data, recall dial, determinism, codegen parity.
  */
class PqSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("codes are m bytes; training is deterministic") {
    val m1 = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val m2 = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    assert(m1.codebooks.flatten.map(_.toSeq).toSeq ==
      m2.codebooks.flatten.map(_.toSeq).toSeq)
    val code = emb.limit(3).select(Pq.encode(col("embedding"), m1).as("c"))
      .collect().map(_.getAs[Array[Byte]]("c"))
    assert(code.forall(_.length == 8))
  }

  test("saveModel/loadModel round-trips the codebooks bit-exactly") {
    val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val path = java.nio.file.Files.createTempDirectory("pq_model")
      .resolve("_pq").toString
    Pq.saveModel(spark, pq, path)
    val back = Pq.loadModel(spark, path)
    assert(back.m == pq.m && back.dsub == pq.dsub && back.ksub == pq.ksub)
    assert((0 until pq.m).forall(j => (0 until pq.ksub).forall(c =>
      back.codebooks(j)(c).sameElements(pq.codebooks(j)(c)))))
    // and the loaded model encodes identically (the property codes
    // persistence exists for)
    val a = emb.limit(5).select(Pq.encode(col("embedding"), pq).as("c"))
      .collect().map(_.getAs[Array[Byte]]("c").toSeq)
    val b = emb.limit(5).select(Pq.encode(col("embedding"), back).as("c"))
      .collect().map(_.getAs[Array[Byte]]("c").toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("ADC dot equals the exact dot against reconstructed codewords") {
    val model = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val rows = emb.orderBy("vec_id").limit(5)
      .select(col("embedding"), Pq.encode(col("embedding"), model).as("c"))
      .collect()
    val q = rows.head.getSeq[Float](0).toArray
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]]("c")
      // reconstruct the codeword vector and take the plain dot
      var want = 0.0
      var j = 0
      while (j < model.m) {
        val cent = model.codebooks(j)(codes(j) & 0xff)
        var i = 0
        while (i < model.dsub) {
          want += q(j * model.dsub + i).toDouble * cent(i).toDouble
          i += 1
        }
        j += 1
      }
      import spark.implicits._
      // compute via the expressions directly on a tiny frame
      val adc = Seq(1).toDF("one")
        .select(Pq.adcDot(
          typedLit(codes),
          Pq.lut(typedLit(q.toSeq), model), model.ksub).as("s"))
        .head().getDouble(0)
      assert(math.abs(adc - want) < 1e-9, s"ADC $adc vs reconstructed $want")
    }
  }

  test("PQ two-stage ANN: recall dial works, exhaustive oversample = brute force") {
    val queries = emb.where(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = ids(Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 5))
    val model = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    def recallAt(os: Int): Double = {
      val pq = ids(Pq.pqTopK(emb, queries, "embedding", "vec_id",
        k = 5, model, oversample = os))
      brute.intersect(pq).size.toDouble / brute.size
    }
    val low = recallAt(2)
    val high = recallAt(16)
    assert(low >= 0.2, s"PQ recall floor broken: $low")
    assert(high >= low && high >= 0.6, s"recall dial broken: $low -> $high")
    val full = ids(Pq.pqTopK(emb, queries, "embedding", "vec_id",
      k = 5, model, oversample = Int.MaxValue / 8))
    assert(full == brute)
  }

  test("residual kernels: residual + centroid reconstructs the vector; " +
      "centroid dot matches the driver fold") {
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 2)
    val rows = Ivf.assign(emb, "embedding", ivf).orderBy("vec_id").limit(8)
      .select(col("vec_id"), col("embedding"), col("cluster"),
        Ivf.residualCol(col("embedding"), col("cluster"), ivf).as("r"),
        Ivf.centroidDotCol(col("embedding"), col("cluster"), ivf).as("cd"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val cl = r.getInt(2)
      val res = r.getSeq[Float](3).toArray
      val cent = ivf.centroids(cl)
      assert(res.length == v.length)
      // float32 narrowing loses at most half an ulp of the double diff
      v.indices.foreach { i =>
        val want = v(i).toDouble - (if (i < cent.length) cent(i).toDouble else 0.0)
        assert(math.abs(res(i) - want) <= math.abs(want) * 1e-6 + 1e-12,
          s"residual[$i] ${res(i)} vs $want")
      }
      var dot = 0.0
      var i = 0
      while (i < math.min(v.length, cent.length)) {
        dot += v(i).toDouble * cent(i).toDouble; i += 1
      }
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(dot),
        "centroid dot must replay the sequential driver fold bit-for-bit")
    }
  }

  test("residual IVF-PQ: disk-served codes index ≡ the in-memory search") {
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val pqr = Ivf.trainPqResidual(emb, "embedding", "vec_id", ivf,
      m = 8, ksub = 16, iters = 2)
    val postings = Ivf.assign(emb, "embedding", ivf)
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "sim", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val mem = rows(Ivf.searchCodes(postings, postings, queries, "embedding",
      "vec_id", Ivf.Codec.PqResidual(pqr), ivf, k = 5, nprobe = 4,
      oversample = 4))
    assert(mem.nonEmpty)
    val idx = java.nio.file.Files.createTempDirectory("pqr_idx")
      .resolve("index").toString
    Ivf.writeIndexCodes(postings, "embedding", Ivf.Codec.PqResidual(pqr), idx,
      model = Some(ivf))
    val served = rows(Ivf.searchCodes(Ivf.readIndex(spark, idx),
      emb, queries, "embedding", "vec_id", Ivf.Codec.PqResidual(pqr), ivf,
      k = 5, nprobe = 4, oversample = 4))
    assert(served == mem)
    // the stored index holds m-byte codes, no float vectors
    val schema = spark.read.parquet(idx).schema
    assert(schema.fieldNames.contains("codes") &&
      !schema.fieldNames.contains("embedding"))
  }

  test("residual IVF-PQ recall anchor: exhaustive probe + shortlist " +
      "equals brute force") {
    // the sanity bound that pins the residual scorer end to end: at
    // nprobe = nlist with an exhaustive shortlist, ONLY the exact
    // rescore ranks, so recall@5 must be 1.0. (Whether residual codes
    // BEAT plain codes is corpus-dependent — on this weakly-clustered
    // synthetic corpus mean x·centroid ≈ 0.27, residual norms exceed
    // vector norms, and residuals measurably lose; see the
    // pqr_knob_sweep table in PLANS.md.)
    val queries = emb.where(col("vec_id") < 10)
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    val postings = Ivf.assign(emb, "embedding", ivf)
    val truth = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", k = 5)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).head().getDouble(0)
    val resid = Ivf.trainPqResidual(emb, "embedding", "vec_id", ivf,
      m = 8, ksub = 16, iters = 3)
    val anchor = mean(Similarity.recallAtK(truth,
      Ivf.searchCodes(postings, postings, queries, "embedding", "vec_id",
        Ivf.Codec.PqResidual(resid), ivf, k = 5, nprobe = 8,
        oversample = 100000), k = 5))
    assert(anchor == 1.0, s"exhaustive residual search must be exact: $anchor")
  }

  test("ksub=256 at the same stored bytes dominates ksub=16") {
    // codes are stored as ONE BYTE per subspace regardless of ksub,
    // so m=8/ksub=16 wastes half of every stored byte — at the SAME
    // 8-byte code, ksub=256 must not lose recall (at sf0.1 it moves
    // 0.32 -> 0.68 at os=4; the sweep table in PLANS.md)
    val queries = emb.where(col("vec_id") < 10)
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    val postings = Ivf.assign(emb, "embedding", ivf)
    val truth = Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", k = 5)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).head().getDouble(0)
    def recallAt(ksub: Int): Double = {
      val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = ksub,
        iters = 3)
      mean(Similarity.recallAtK(truth,
        Ivf.searchCodes(postings, postings, queries, "embedding", "vec_id",
          Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = 4, oversample = 4), k = 5))
    }
    val r16 = recallAt(16)
    val r256 = recallAt(256)
    assert(r256 >= r16,
      s"8 bits/subspace must not lose to 4 at the same bytes: $r16 -> $r256")
  }

  test("codegen and interpreted residual/centroid-dot agree bit-for-bit") {
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 2)
    def run() = Ivf.assign(emb, "embedding", ivf).orderBy("vec_id").limit(10)
      .select(Ivf.residualCol(col("embedding"), col("cluster"), ivf).as("r"),
        Ivf.centroidDotCol(col("embedding"), col("cluster"), ivf).as("cd"))
      .collect().map(r => (r.getSeq[Float](0).map(
        java.lang.Float.floatToIntBits),
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
    val viaCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run().toSeq == viaCodegen.toSeq)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("codegen and interpreted encode/LUT agree bit-for-bit") {
    val model = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    def run() = emb.orderBy("vec_id").limit(10)
      .select(Pq.encode(col("embedding"), model).as("c"),
        Pq.lut(col("embedding"), model).as("t"))
      .collect().map(r => (r.getAs[Array[Byte]]("c").toSeq,
        r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)))
    val viaCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run().toSeq == viaCodegen.toSeq)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
