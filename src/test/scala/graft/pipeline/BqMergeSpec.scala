package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Sign-bit binary quantization + segment merge contracts:
  * bit-packing kernel, Hamming kernel (codegen parity with the plain
  * Scala reimplementation), BQ serve ≡ exact at the exhaustive
  * probe with a corpus-sized shortlist, grown layout ≡ one-shot,
  * mergeInto ≡ one-shot build, merge guardrails (model mismatch,
  * schema mismatch, sidecar folding), crash idempotence.
  */
class BqMergeSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("SignBits packs component j into bit j of byte j/8; zero codes 0") {
    import graft.functions.VectorFunctions.signBits
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.0f, 2.0f)), // bits 0,3 -> 0x09
      (2L, Array.fill(9)(0.5f))             // 9 dims -> 2 bytes
    ).toDF("id", "v")
    val got = df.select(col("id"), signBits(col("v")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("c")).toMap
    assert(got(1L).toSeq == Seq(0x09.toByte))
    assert(got(2L).toSeq == Seq(0xFF.toByte, 0x01.toByte))
  }

  test("BitHamming equals popcount-of-xor; mismatched lengths are null") {
    import graft.functions.VectorFunctions.{bitHamming, signBits}
    // compare the codegen'd kernel against an independent per-bit
    // count over real corpus signatures (covers the 8-byte fast lane)
    val rows = emb.orderBy("vec_id").limit(20)
      .select(signBits(col("embedding")).as("c")).collect()
      .map(_.getAs[Array[Byte]]("c"))
    val a = rows.head
    import spark.implicits._
    val df = rows.map(b => (a, b)).toSeq.toDF("x", "y")
    val got = df.select(bitHamming(col("x"), col("y")).as("h"))
      .collect().map(_.getInt(0))
    val want = rows.map { b =>
      a.zip(b).map { case (x, y) =>
        java.lang.Integer.bitCount((x ^ y) & 0xFF) }.sum
    }
    assert(got.toSeq == want.toSeq)
    val bad = Seq((Array[Byte](1, 2), Array[Byte](1))).toDF("x", "y")
    assert(bad.select(bitHamming(col("x"), col("y"))).head().isNullAt(0))
  }

  test("BQ serve at exhaustive probe + corpus-wide shortlist == exact top-k") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("bq_exact")
      .resolve("index").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Bq, idx)
    val n = emb.count().toInt
    val queries = emb.where(col("vec_id") < 3)
    val got = Ivf.searchCodes(Ivf.readIndex(spark, idx), emb, queries,
        "embedding", "vec_id", Ivf.Codec.Bq, model, k = 5, nprobe = 4,
        oversample = n / 5 + 1) // shortlist covers the whole corpus
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Ivf.search(Ivf.assign(emb, "embedding", model), queries,
        "embedding", "vec_id", model, k = 5, nprobe = 4)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      "with a corpus-sized shortlist the exact rescore must equal exact search")
  }

  test("BQ grown layout serves identically to one-shot (training-free codes)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val one = java.nio.file.Files.createTempDirectory("bq_one")
      .resolve("index").toString
    val inc = java.nio.file.Files.createTempDirectory("bq_inc")
      .resolve("index").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Bq, one)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Bq, inc)
    Ivf.appendToIndexCodes(emb.where(col("vec_id") > half), "embedding",
      Ivf.Codec.Bq, model, inc)
    val q = emb.where(col("vec_id") < 5)
    def serve(p: String) =
      Ivf.searchCodes(Ivf.readIndex(spark, p), emb, q, "embedding",
          "vec_id", Ivf.Codec.Bq, model, k = 5)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serve(inc) == serve(one))
  }

  test("mergeInto: two shard builds under one model == one-shot build") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("merge_eq")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val one = root.resolve("one").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Int8, b)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, one)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    Ivf.mergeInto(spark, a, b)
    // src is consumed wholesale
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(b)))
    val q = emb.where(col("vec_id") < 5)
    def serve(p: String) =
      Ivf.searchCodes(Ivf.readIndex(spark, p), emb, q, "embedding", "vec_id",
        Ivf.Codec.Int8,
          model, k = 5)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serve(a) == serve(one))
  }

  test("a data-less src (metadata sidecars only) merges as an empty " +
      "shard — consumed, dst untouched") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("merge_dataless")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, a)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    // b: the shape an empty id-range shard leaves behind — a _model
    // sidecar and nothing else (the sf0.1 hybrid_topk_merged shape)
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    val before = Ivf.searchCodes(Ivf.readIndex(spark, a), emb,
        emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model, k = 5)
      .select("qid", "nid", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    Ivf.mergeInto(spark, a, b)
    assert(!java.nio.file.Files.exists(java.nio.file.Path.of(b)),
      "the empty shard must be consumed")
    val after = Ivf.searchCodes(Ivf.readIndex(spark, a), emb,
        emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model, k = 5)
      .select("qid", "nid", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after == before)
  }

  test("mergeInto refuses different quantizers and missing _model") {
    val model1 = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val model2 = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("merge_bad")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model1), "embedding",
      Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model2), "embedding",
      Ivf.Codec.Int8, b)
    // no _model anywhere: loud error, not a silent mix
    intercept[IllegalArgumentException] { Ivf.mergeInto(spark, a, b) }
    Ivf.saveModel(spark, model1, Ivf.modelPath(a))
    Ivf.saveModel(spark, model2, Ivf.modelPath(b))
    intercept[IllegalArgumentException] { Ivf.mergeInto(spark, a, b) }
    // both sides intact after the refusals
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(a)))
    assert(java.nio.file.Files.exists(java.nio.file.Path.of(b)))
  }

  test("mergeInto folds src tombstones first; masked ids stay deleted") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("merge_tomb")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Int8, b)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    // tombstone one id on EACH side, then merge
    import spark.implicits._
    Ivf.tombstoneVectors(spark, a, Seq(1L).toDF("vec_id"), "vec_id")
    Ivf.tombstoneVectors(spark, b, Seq(half + 1L).toDF("vec_id"), "vec_id")
    Ivf.mergeInto(spark, a, b)
    val ids = spark.read.parquet(a).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(half + 1L),
      "src's tombstones must fold into physical deletes before the move")
    // dst's own mask is NOT folded (that would rewrite the big side
    // on every merge) — it stays live on the serving read
    val serving = Ivf.readIndexServing(spark, a, "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!serving.contains(1L),
      "dst's tombstone must still mask on the serving read after merge")
    assert(serving.contains(2L) && !serving.contains(half + 1L))
  }

  test("a crashed merge re-runs to completion (file-level idempotence)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("merge_crash")
    val a = root.resolve("a").toString
    val b = root.resolve("b").toString
    val one = root.resolve("one").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Int8, b)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, one)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    // simulate the crash: move ONE partition file by hand (exactly
    // what a merge interrupted mid-loop leaves behind)
    val bDir = new java.io.File(b)
    val part = bDir.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("cluster=")).head
    val pf = part.listFiles().filter(_.getName.endsWith(".parquet")).head
    val tgt = new java.io.File(new java.io.File(a, part.getName), pf.getName)
    tgt.getParentFile.mkdirs()
    assert(pf.renameTo(tgt))
    // the re-run verifies (src _model still present) and finishes
    Ivf.mergeInto(spark, a, b)
    val q = emb.where(col("vec_id") < 5)
    def serve(p: String) =
      Ivf.searchCodes(Ivf.readIndex(spark, p), emb, q, "embedding", "vec_id",
        Ivf.Codec.Int8,
          model, k = 5)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(serve(a) == serve(one))
  }
}
