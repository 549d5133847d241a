package graft.pipeline

import graft.SparkTestBase
import graft.functions.TopKByScore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class AnnSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("heap top-k aggregate equals the window-rank plan exactly") {
    val q = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        graft.functions.VectorFunctions.cosineSimD(col("embedding"), col("qv")).as("sim"))
    val viaHeap = scored.groupBy(col("qid"))
      .agg(TopKByScore.topKBy(col("sim"), col("nid"), 5).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), col("col.id").as("nid"), col("col.score").as("sim"))
      .orderBy("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)
    val viaWindow = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5).select("qid", "nid", "sim")
      .orderBy("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(viaHeap.toSeq == viaWindow.toSeq)
  }

  test("heap aggregate tie-break prefers lower id") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5), (1L, 5L, 0.5), (1L, 7L, 0.9), (1L, 2L, 0.1))
      .toDF("g", "id", "score")
    val out = df.groupBy("g")
      .agg(TopKByScore.topKBy(col("score"), col("id"), 2).as("tk"))
      .select(posexplode(col("tk"))).select("col.score", "col.id")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(out.toSeq == Seq((0.9, 7L), (0.5, 5L)))
  }

  test("MMR: first pick is the cosine best; near-copies are displaced by diversity") {
    import spark.implicits._
    // a corpus where the 3 nearest neighbors of the query are
    // near-copies of each other and one farther doc points elsewhere:
    // plain top-3 returns the three copies, MMR must swap in the
    // diverse doc
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, v(1.0, 0.0, 0.0)),
      (2L, v(0.999, 0.01, 0.0)),   // near-copy of 1
      (3L, v(0.998, 0.02, 0.0)),   // near-copy of 1
      (4L, v(0.5, 0.86, 0.0))      // relevant but different direction
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, v(1.0, 0.05, 0.0))).toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(corpus, q, "embedding", "vec_id", k = 3)
      .orderBy(col("rk")).select("nid").as[Long].collect().toSeq
    val mmr = Similarity.mmrTopK(corpus, q, "embedding", "vec_id",
      k = 3, lambda = 0.5).orderBy(col("rk")).select("nid").as[Long].collect().toSeq
    assert(plain == Seq(3L, 2L, 1L), s"plain=$plain") // q tilts toward y, so 3 > 2 > 1
    assert(mmr.head == plain.head, "rk=1 must be the pure-relevance best")
    assert(mmr.contains(4L), s"diversity must displace a near-copy: $mmr")
    // λ=1 degenerates to plain top-k exactly
    val lam1 = Similarity.mmrTopK(corpus, q, "embedding", "vec_id",
      k = 3, lambda = 1.0).orderBy(col("rk")).select("nid").as[Long].collect().toSeq
    assert(lam1 == plain, s"lambda=1 must equal plain top-k: $lam1")
  }

  test("IVF persisted index: partition-pruned probes, same results") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString + "/index"
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), path)
    val postings = Ivf.readIndex(spark, path)
    // a single-cluster probe must scan only that partition
    val oneCluster = postings.where(org.apache.spark.sql.functions.col("cluster") === 0)
    val planStr = oneCluster.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(cluster"),
      s"cluster filter not pushed to partitions:\n$planStr")
    val queries = emb.where(col("vec_id") < 3)
    val fromDisk = Ivf.search(postings, queries, "embedding", "vec_id", model,
        k = 5, nprobe = 8)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == brute) // exhaustive probes over the disk index
  }

  test("quantized disk index is a fraction of the float index's bytes") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val root = java.nio.file.Files.createTempDirectory("ivf_i8")
    Ivf.writeIndex(postings, root.resolve("f32").toString)
    Ivf.writeIndexCodes(postings, "embedding", Ivf.Codec.Int8,
      root.resolve("i8").toString)
    def bytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val f32 = bytes(root.resolve("f32"))
    val i8 = bytes(root.resolve("i8"))
    // 64-dim float32 = 256 B/vec vs 64 B codes; parquet overhead eats
    // some of the 4x but the cut must still be big
    assert(i8.toDouble / f32 < 0.55, s"int8 index $i8 B vs float $f32 B")
    // and the quantized disk index actually SERVES searches — same
    // neighbors as quantizing the in-memory postings on the fly
    val disk = Ivf.readIndex(spark, root.resolve("i8").toString)
    assert(disk.columns.contains("codes") && disk.columns.contains("cluster"))
    val queries = emb.where(col("vec_id") < 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromDisk = ids(Ivf.searchCodes(disk, emb, queries, "embedding",
      "vec_id", Ivf.Codec.Int8, model, k = 5, nprobe = 8))
    val inMem = ids(Ivf.searchCodes(postings, postings, queries, "embedding",
      "vec_id", Ivf.Codec.Int8, model, k = 5, nprobe = 8))
    assert(fromDisk == inMem)
  }

  test("IVF probe search recalls most brute-force neighbors") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    assert(model.centroids.length == 8)
    val postings = Ivf.assign(emb, "embedding", model)
    assert(postings.select("cluster").distinct().count() <= 8)
    val queries = emb.where(col("vec_id") < 5)
    val ivf = Ivf.search(postings, queries, "embedding", "vec_id", model,
        k = 5, nprobe = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    // nprobe = nlist ⇒ exhaustive ⇒ recall 1.0
    val full = Ivf.search(postings, queries, "embedding", "vec_id", model,
        k = 5, nprobe = 8)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("hierarchical train: flat-model contract, exhaustive probes = brute force") {
    val model = Ivf.trainHierarchical(emb, "embedding", "vec_id",
      nlist = 16, iters = 3)
    // two-level concat: between b1 (all-but-one cells empty) and
    // b1*kc centroids; search consumes it as a plain flat model
    assert(model.nlist >= 4 && model.nlist <= 16)
    // deterministic across invocations
    val again = Ivf.trainHierarchical(emb, "embedding", "vec_id",
      nlist = 16, iters = 3)
    assert(model.centroids.map(_.toSeq).toSeq == again.centroids.map(_.toSeq).toSeq)
    val postings = Ivf.assign(emb, "embedding", model)
    val queries = emb.where(col("vec_id") < 5)
    val full = Ivf.search(postings, queries, "embedding", "vec_id", model,
        k = 5, nprobe = model.nlist)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute)
  }

  test("recallAtK: hand-built lists, zero-hit queries kept, self = 1.0") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L),
      (3L, 31L)).toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 21L), (2L, 99L), (3L, 98L),
      (3L, 99L)).toDF("qid", "nid")
    val got = Similarity.recallAtK(exact, approx, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (3L, 0L, 0.0)))
    // an exact list evaluated against itself is perfect recall
    val self = Similarity.recallAtK(exact, exact, k = 2).collect()
    assert(self.forall(_.getDouble(2) == 1.0))
  }

  test("recallAtK: dup approx rows don't double-count; short exact list reaches 1.0") {
    import spark.implicits._
    // approx repeats (1, 10) — a top-k contract violation that must
    // not push recall past 1.0 through the join
    val exact = Seq((1L, 10L), (1L, 11L)).toDF("qid", "nid")
    val dupApprox = Seq((1L, 10L), (1L, 10L), (1L, 11L)).toDF("qid", "nid")
    val got = Similarity.recallAtK(exact, dupApprox, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0)))
    // query 2's true neighborhood has only ONE member: finding it is
    // recall 1.0, not 1/k
    val shortExact = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L)).toDF("qid", "nid")
    val got2 = Similarity.recallAtK(shortExact, approx, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 2L, 1.0), (2L, 1L, 1.0)))
  }

  test("tagged heap carries the payload of exactly the winners") {
    import spark.implicits._
    val df = Seq((1L, 10L, 0.5, 105L), (1L, 5L, 0.5, 55L),
      (1L, 7L, 0.9, 77L), (1L, 2L, 0.1, 22L)).toDF("g", "id", "score", "tag")
    val out = df.groupBy("g")
      .agg(TopKByScore.topKByTag(col("score"), col("id"), col("tag"), 2).as("tk"))
      .select(posexplode(col("tk"))).select("col.score", "col.id", "col.tag")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // same selection + tie-break as the untagged heap, tags attached
    assert(out.toSeq == Seq((0.9, 7L, 77L), (0.5, 5L, 55L)))
  }

  test("topN kernel matches the sort-based selection rule exactly") {
    // the insertion top-n must replay sortBy((-dot, idx)).take(n),
    // including ties — random vectors plus a crafted all-ties table
    val rnd = new scala.util.Random(20260812L)
    val dim = 8
    val table = Array.fill(32)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    def reference(v: Array[Float], n: Int): Seq[Int] =
      table.indices.map(c => (c, IvfModel.dot(table(c), v)))
        .sortBy { case (c, s) => (-s, c) }.take(n).map(_._1)
    (0 until 50).foreach { _ =>
      val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      (Seq(1, 3, 7, 32, 40)).foreach { n =>
        assert(IvfModel.topNByDot(table, null, v, n).toSeq == reference(v, n))
      }
    }
    val ties = IvfModel(Array.fill(5)(Array(1.0f, 0.0f)))
    assert(ties.nearest(Array(1.0f, 1.0f), 3).toSeq == Seq(0, 1, 2))
    // candidate-subset path honors the same rule
    assert(IvfModel.topNByDot(Array.fill(5)(Array(1.0f)), Array(4, 2, 3), Array(1.0f), 2)
      .toSeq == Seq(2, 3))
  }

  test("hierarchical assign descends (no UDF) and stays near the flat argmin") {
    val model = Ivf.trainHierarchical(emb, "embedding", "vec_id",
      nlist = 16, iters = 3)
    assert(model.hierarchical)
    val postings = Ivf.assign(emb, "embedding", model)
    val plan = postings.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"assign still carries a UDF:\n$plan")
    assert(plan.contains("ivf_nearest"), s"expected the native kernel:\n$plan")
    // descent picks the true flat argmin away from L1 boundaries; the
    // 2-cell oversample covers most boundary vectors too
    val viaDescend = postings.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaFlat = Ivf.assign(emb, "embedding", IvfModel(model.centroids))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val agree = viaDescend.count { case (id, c) => viaFlat(id) == c }.toDouble /
      viaDescend.size
    assert(agree >= 0.8, s"descent/flat agreement too low: $agree")
    // and the descent is itself deterministic across plans
    val again = Ivf.assign(emb, "embedding", model)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == viaDescend)
  }

  test("quantized IVF agrees closely with float IVF on the same probes") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    val postings = Ivf.assign(emb, "embedding", model)
    val queries = emb.where(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val f = ids(Ivf.search(postings, queries, "embedding", "vec_id", model,
      k = 5, nprobe = 8))
    val i8 = ids(Ivf.searchCodes(postings, postings, queries, "embedding",
      "vec_id", Ivf.Codec.Int8, model, k = 5, nprobe = 8))
    val agree = f.intersect(i8).size.toDouble / f.size
    assert(agree >= 0.8, s"int8-IVF agreement too low: $agree")
  }

  test("PCA two-stage ANN recalls most brute-force neighbors") {
    val model = Pca.train(emb, "embedding", "vec_id", k = 16)
    val queries = emb.where(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = ids(Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 5))
    def recallAt(dims: Int, os: Int): Double = {
      val m = Pca.train(emb, "embedding", "vec_id", k = dims)
      val pca = ids(Similarity.pcaTopK(emb, queries, "embedding", "vec_id",
        k = 5, m, oversample = os))
      brute.intersect(pca).size.toDouble / brute.size
    }
    // the synthetic embeddings are near-isotropic — PCA's worst case
    // (16/64 dims ≈ a quarter of the variance), so the floor is modest
    // and the CONTRACT under test is the dial: more dims + oversample
    // must buy recall
    val low = recallAt(16, 4)
    val high = recallAt(32, 16)
    assert(low >= 0.3, s"PCA-ANN recall floor broken: $low")
    assert(high > low && high >= 0.8, s"recall dial broken: $low -> $high")
    // oversample = corpus size ⇒ candidates are everything ⇒ exact
    val full = ids(Similarity.pcaTopK(emb, queries, "embedding", "vec_id",
      k = 5, model, oversample = Int.MaxValue / 8))
    assert(full == brute)
  }

  test("IVF-PQ: reasonable recall at working settings, exact when exhaustive") {
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val postings = Ivf.assign(emb, "embedding", ivf)
    val queries = emb.where(col("vec_id") < 5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = ids(Similarity.bruteForceTopK(emb, queries, "embedding",
      "vec_id", 5))
    val working = ids(Ivf.searchCodes(postings, postings, queries,
      "embedding", "vec_id", Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = 4,
      oversample = 4))
    val recall = brute.intersect(working).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF-PQ recall too low: $recall")
    // exhaustive probes + exhaustive oversample ⇒ exact
    val full = ids(Ivf.searchCodes(postings, postings, queries, "embedding",
      "vec_id", Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = 8,
      oversample = Int.MaxValue / 8))
    assert(full == brute)
  }

  test("disk PQ index serves identically to in-memory IVF-PQ, codes only") {
    val ivf = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 3)
    val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16)
    val postings = Ivf.assign(emb, "embedding", ivf)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Ivf.writeIndexCodes(postings, "embedding", Ivf.Codec.Pq(pq), path,
      model = Some(ivf))
    val index = Ivf.readIndex(spark, path)
    assert(index.columns.sorted.toSeq == Seq("cluster", "codes", "vec_id"))
    val queries = emb.where(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromDisk = rows(Ivf.searchCodes(index, emb, queries, "embedding",
      "vec_id", Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = 4, oversample = 4))
    val inMem = rows(Ivf.searchCodes(postings, postings, queries,
      "embedding", "vec_id", Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = 4,
      oversample = 4))
    assert(fromDisk == inMem)
  }

  test("int8 quantized top-k: self-sim exactly 1, high agreement with float") {
    val queries = emb.where(col("vec_id") < 5)
    val int8 = Similarity.int8TopK(emb, queries, "embedding", "vec_id",
      k = 5, excludeSelf = false)
    // a non-zero vector against itself: integer dot == normSq, so sim
    // is 1 up to the sqrt(n)·sqrt(n) ≠ n ulp wobble
    val self = int8.where(col("qid") === col("nid"))
      .select("sim").collect().map(_.getDouble(0))
    assert(self.nonEmpty && self.forall(s => math.abs(s - 1.0) < 1e-12))
    // quantization noise may swap distant ranks but the neighbor SETS
    // overlap heavily with exact float cosine
    val i8 = int8.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id",
        k = 5, excludeSelf = false)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = brute.intersect(i8).size.toDouble / brute.size
    assert(agree >= 0.8, s"int8 agreement too low: $agree")
    // codes are genuinely int8: binary payload is dim bytes, not 4·dim
    val dim = emb.head().getAs[Seq[Float]]("embedding").length
    val codeLen = emb.limit(1)
      .select(Similarity.int8Codes(col("embedding")).as("c"))
      .head().getAs[Array[Byte]]("c").length
    assert(codeLen == dim)
  }

  test("IVF compaction: file count drops, search results invariant") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_cmp").toString + "/index"
    // one-shot build + 4 increments = 5 file sets per touched cluster
    val ids = Seq(100L, 200L, 300L, 400L)
    Ivf.writeIndex(
      Ivf.assign(emb.where(col("vec_id") <= ids.head), "embedding", model), path)
    ids.sliding(2).foreach { case Seq(lo, hi) =>
      Ivf.appendToIndex(
        emb.where(col("vec_id") > lo && col("vec_id") <= hi), "embedding", model, path)
    }
    Ivf.appendToIndex(emb.where(col("vec_id") > ids.last), "embedding", model, path)
    def parquetFiles(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val queries = emb.where(col("vec_id") < 5)
    def results() = Ivf.search(Ivf.readIndex(spark, path), queries,
        "embedding", "vec_id", model, k = 5, nprobe = 8)
      .select("qid", "rk", "nid", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val (filesBefore, before) = (parquetFiles(), results())
    Ivf.compactIndex(spark, path)
    val (filesAfter, after) = (parquetFiles(), results())
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file pile: $filesBefore -> $filesAfter")
    assert(filesAfter <= 8, s"expected ~one file per cluster dir, got $filesAfter")
    assert(after == before, "compaction must not change search results")
    // idempotent: a second pass is a no-op layout-wise and result-wise
    Ivf.compactIndex(spark, path)
    assert(parquetFiles() == filesAfter && results() == before)
  }

  test("compaction recovery: a parked __old layout is restored and compacted") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivf_rec").toString
    val path = root + "/index"
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), path)
    val queries = emb.where(col("vec_id") < 3)
    def results(p: String) = Ivf.search(Ivf.readIndex(spark, p), queries,
        "embedding", "vec_id", model, k = 5, nprobe = 8)
      .select("qid", "rk", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = results(path)
    // simulate a crash between park and promote: live layout sits at
    // __old, nothing at the index path
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    Ivf.compactIndex(spark, path)
    assert(results(path) == want, "recovery must restore the parked layout")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("tuneNprobe: monotone sweep, early stop at the target, chosen semantics") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 16, iters = 3)
    val postings = Ivf.assign(emb, "embedding", model)
    val qs = emb.where(col("vec_id") < 10)
    def sweep(target: Double) =
      Ivf.tuneNprobe(postings, qs, "embedding", "vec_id", model, k = 5,
          targetRecall = target)
        .orderBy("nprobe").collect()
        .map(r => (r.getInt(0), r.getDouble(3), r.getBoolean(4)))
    val full = sweep(1.0)
    // doubling sweep ends exhaustive; recall monotone non-decreasing
    // and exactly 1.0 at nprobe = nlist (every list probed)
    assert(full.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    assert(full.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    assert(full.last._2 == 1.0 && full.last._3)
    assert(full.init.forall(!_._3))
    // a modest target stops early, and only the final row is chosen
    val easy = sweep(full(1)._2) // target = the nprobe=2 recall
    assert(easy.length == 2 && easy.last._1 == 2 && easy.last._3)
  }

  test("indexStats: metadata-only scan (zero columns), sizes exact, imbalance ratio") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_stats_s")
      .toString + "/index"
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), path)
    val st = Ivf.indexStats(spark, path)
    // the alarm must not read data pages: the scan projects zero
    // columns, so counts come from row-group metadata
    val plan = st.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<>"),
      s"indexStats scan reads data columns:\n$plan")
    val got = st.collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val want = Ivf.assign(emb, "embedding", model)
      .groupBy("cluster").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    val imb = Ivf.imbalance(spark, path)
    val sizes = want.map(_._2.toDouble)
    assert(math.abs(imb - sizes.max / (sizes.sum / sizes.length)) < 1e-9)
  }

  test("recluster: retrained-on-contents model ≡ train-on-union; search ≡ one-shot") {
    // build under a STALE model trained on the low half only, append
    // the high half (drift), recluster — the retrained model must be
    // bit-identical to training on the union (TrainSample membership
    // is a pure function of id/seed/count), and the rewritten index
    // must search exactly like a one-shot build under that model
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val lo = emb.where(col("vec_id") <= half)
    val hi = emb.where(col("vec_id") > half)
    val stale = Ivf.train(lo, "embedding", "vec_id", nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_rec_s")
      .toString + "/index"
    Ivf.writeIndex(Ivf.assign(lo, "embedding", stale), path)
    Ivf.appendToIndex(hi, "embedding", stale, path)
    val fresh = Ivf.recluster(spark, path, "embedding", "vec_id",
      nlist = 8, iters = 2)
    val union = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    assert(fresh.centroids.length == union.centroids.length)
    assert(fresh.centroids.zip(union.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    val qs = emb.where(col("vec_id") < 3)
    def rows(p: org.apache.spark.sql.DataFrame) =
      Ivf.search(p, qs, "embedding", "vec_id", fresh, k = 5, nprobe = 3)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(x => (x._1, x._3)).toSeq
    assert(rows(Ivf.readIndex(spark, path)) ==
      rows(Ivf.assign(emb, "embedding", fresh)))
    // the rewrite actually moved rows: no posting keeps a stale
    // assignment (cluster column re-derived under the fresh model)
    val moved = Ivf.readIndex(spark, path)
      .withColumn("want",
        graft.functions.ColumnBridge.column(graft.pipeline.IvfNearest(
          graft.functions.ColumnBridge.expression(col("embedding")),
          fresh, 1)).getItem(0))
      .where(col("cluster") =!= col("want")).count()
    assert(moved == 0L)
    // the (layout, model) pair persisted atomically with the swap —
    // and survives a later compaction (hidden-dir carry-over)
    def pairHolds(): Unit = {
      val m = Ivf.loadModel(spark, Ivf.modelPath(path))
      assert(m.centroids.zip(fresh.centroids)
        .forall { case (a, b) => a.sameElements(b) })
    }
    pairHolds()
    Ivf.compactIndex(spark, path)
    pairHolds()
    // a hierarchical index reclusters hierarchical — the O(√nlist)
    // cost class is kept, not silently downgraded to a flat scan
    val hPath = java.nio.file.Files.createTempDirectory("ivf_rec_h")
      .toString + "/index"
    val hStale = Ivf.trainHierarchical(lo, "embedding", "vec_id",
      nlist = 8, iters = 2)
    Ivf.writeIndex(Ivf.assign(lo, "embedding", hStale), hPath)
    Ivf.appendToIndex(hi, "embedding", hStale, hPath)
    val hFresh = Ivf.recluster(spark, hPath, "embedding", "vec_id",
      nlist = 8, iters = 2, hierarchical = true)
    assert(hFresh.hierarchical)
  }

  test("deleteVectors: search over the pruned index equals a fresh build") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivf_del_s")
      .toString + "/index"
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), path)
    // delete every third REAL vector; the survivors' one-shot
    // assignment under the same frozen model is the ground truth
    val survivors = emb.where(col("vec_id") % 3 =!= 0)
    Ivf.deleteVectors(spark, path,
      emb.where(col("vec_id") % 3 === 0).select(col("vec_id")), "vec_id")
    val qs = emb.where(col("vec_id") < 3)
    def rows(p: org.apache.spark.sql.DataFrame) =
      Ivf.search(p, qs, "embedding", "vec_id", model, k = 5, nprobe = 8)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(x => (x._1, x._3)).toSeq
    assert(rows(Ivf.readIndex(spark, path)) ==
      rows(Ivf.assign(survivors, "embedding", model)))
  }
}
