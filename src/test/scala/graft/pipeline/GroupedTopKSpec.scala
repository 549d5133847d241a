package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Grouped (multi-tenant) top-k contracts: the one-pass
  * (cluster, group) join is semantically a per-group filtered search
  * — pinned by composition against searchFiltered/searchCodesFiltered
  * at the SAME fill schedule — and exact per tenant at the
  * exhaustive probe.
  */
class GroupedTopKSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"), col("label"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "label", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet

  test("grouped == union of per-group filtered searches (same schedule)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val qs = emb.where(col("vec_id") < 3)
    val groups = Seq(1, 4, 7)
    val grouped = Ivf.searchGrouped(postings, qs, "embedding", "vec_id",
      model, k = 5, groupCol = "label",
      groups = emb.where(col("label").isin(groups.map(Int.box): _*))
        .select(col("label")).distinct(),
      nprobe0 = 2)
    val byFilter = groups.map { g =>
      Ivf.searchFiltered(postings, qs, "embedding", "vec_id", model,
          k = 5, filter = col("label") === g, nprobe0 = 2)
        .withColumn("label", lit(g))
    }.reduce(_ unionByName _)
    assert(rows(grouped) == rows(byFilter),
      "one-pass grouped search must equal the per-group filtered composition")
  }

  test("codes-layout grouped == per-group filtered codes composition") {
    // int8 ranks by its final score; BQ takes the shortlist-and-
    // rescore path, back-joining `emb` for the exact cosine
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val qs = emb.where(col("vec_id") < 3)
    val groups = Seq(0, 5)
    for (codec <- Seq(Ivf.Codec.Int8, Ivf.Codec.Bq)) {
      val idx = java.nio.file.Files.createTempDirectory("grp_codes")
        .resolve("index").toString
      Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
        codec, idx)
      val index = Ivf.readIndex(spark, idx)
      val grouped = Ivf.searchCodesGrouped(index, emb, qs, "embedding",
        "vec_id", codec, model, k = 5, groupCol = "label",
        groups = emb.where(col("label").isin(groups.map(Int.box): _*))
          .select(col("label")).distinct(),
        nprobe0 = 2)
      val byFilter = groups.map { g =>
        Ivf.searchCodesFiltered(index, emb, qs, "embedding", "vec_id",
            codec, model, k = 5, filter = col("label") === g,
            nprobe0 = 2)
          .withColumn("label", lit(g))
      }.reduce(_ unionByName _)
      assert(rows(grouped) == rows(byFilter), codec.toString)
    }
  }

  test("group values containing the separator never collide fill keys") {
    // pre-escape, (qid "1", group "2#3") and (qid "1#2", group "3")
    // both keyed gqid "1#2#3" — merging their fill accounting and
    // top-k windows in adaptiveFill; the escaped key must keep them
    // apart so grouped == per-group filtered composition even here
    val embS = emb.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"),
      when(col("label") < 5, lit("2#3")).otherwise(lit("3")).as("grp"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(embS, "embedding", model)
    val qs = embS.where(col("vec_id") === "1")
      .unionByName(embS.where(col("vec_id") === "2")
        .select(lit("1#2").as("vec_id"), col("embedding"), col("grp")))
    val grouped = Ivf.searchGrouped(postings, qs, "embedding", "vec_id",
      model, k = 3, groupCol = "grp",
      groups = embS.select(col("grp")).distinct(), nprobe0 = 1)
    val byFilter = Seq("2#3", "3").map { g =>
      Ivf.searchFiltered(postings, qs, "embedding", "vec_id", model,
          k = 3, filter = col("grp") === g, nprobe0 = 1)
        .withColumn("grp", lit(g))
    }.reduce(_ unionByName _)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "grp", "nid", "rk").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getInt(3))).toSet
    assert(rset(grouped) == rset(byFilter) && rset(grouped).nonEmpty)
  }

  test("sparse grouped == per-group docFilter composition") {
    val idx = java.nio.file.Files.createTempDirectory("grp_sparse")
      .resolve("index").toString
    Sparse.writeIndex(Sparse.sparsify(emb, "embedding", "vec_id"), idx)
    val qs = Sparse.sparsify(emb.where(col("vec_id") < 3), "embedding",
      "vec_id")
    val groups = Seq(2, 6)
    val members = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val grouped = Sparse.searchIndexGrouped(spark, idx, qs, k = 5,
        groupCol = "label",
        docGroups = emb.select(col("vec_id").as("doc"), col("label")))
      .where(col("label").isin(groups.map(Int.box): _*))
    val byFilter = groups.map { g =>
      val ids = members.collect { case (id, l) if l == g => id }.toSeq
      Sparse.searchIndex(spark, idx, qs, k = 5,
          docFilter = Some(col("doc").isInCollection(ids)))
        .withColumn("label", lit(g))
        .select(col("qid"), col("label"), col("nid"), col("score"),
          col("rk"))
    }.reduce(_ unionByName _)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "label", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toSet
    assert(rset(grouped) == rset(byFilter) && rset(grouped).nonEmpty)
  }

  test("bm25 grouped == per-group docFilter composition") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("grp_bm25")
      .resolve("index").toString
    Bm25.writeIndex(spark, docs, "text", "doc_id", idx)
    val queries = Seq(0L -> "hash join", 1L -> "fast table scan")
    val docGroups = docs.select(col("doc_id").as("doc"),
      (col("doc_id") % 3).as("tenant"))
    val grouped = Bm25.searchIndexGrouped(spark, idx, queries, k = 5,
      groupCol = "tenant", docGroups = docGroups)
    val byFilter = (0L until 3L).map { g =>
      Bm25.searchIndex(spark, idx, queries, k = 5,
          docFilter = Some(col("doc") % 3 === g))
        .withColumn("tenant", lit(g))
    }.reduce(_ unionByName _)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "tenant", "doc", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSet
    assert(rset(grouped) == rset(byFilter) && rset(grouped).nonEmpty)
  }

  test("multivec grouped == per-group docFilter composition") {
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("grp_mv")
      .resolve("pair").toString
    MultiVector.writeIndex(spark, docVecs, model, root)
    val docGroups = docVecs.select(col("doc")).distinct()
      .withColumn("tenant", col("doc") % 3)
    val grouped = MultiVector.searchIndexGrouped(spark, root, queryVecs,
      model, k = 3, nprobe = 8, groupCol = "tenant", docGroups = docGroups)
    val byFilter = (0L until 3L).map { g =>
      MultiVector.searchIndex(spark, root, queryVecs, model, k = 3,
          nprobe = 8, docFilter = Some(col("doc") % 3 === g))
        .withColumn("tenant", lit(g))
    }.reduce(_ unionByName _)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "tenant", "doc", "score", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4))).toSet
    assert(rset(grouped) == rset(byFilter) && rset(grouped).nonEmpty)
  }

  test("rrfFuseGrouped == per-group rrfFuse composition") {
    import spark.implicits._
    val a = Seq((0L, 1L, 10L, 1), (0L, 1L, 11L, 2), (0L, 2L, 12L, 1),
        (1L, 1L, 10L, 1), (1L, 2L, 13L, 1))
      .toDF("qid", "tenant", "doc", "rk")
    val b = Seq((0L, 1L, 11L, 1), (0L, 2L, 12L, 1), (0L, 2L, 14L, 2),
        (1L, 1L, 15L, 1), (1L, 2L, 13L, 1))
      .toDF("qid", "tenant", "doc", "rk")
    val grouped = Hybrid.rrfFuseGrouped(Seq(a, b), k = 2, "tenant")
    val byGroup = Seq(1L, 2L).map { g =>
      Hybrid.rrfFuse(Seq(a.where(col("tenant") === g).drop("tenant"),
          b.where(col("tenant") === g).drop("tenant")), k = 2)
        .withColumn("tenant", lit(g))
    }.reduce(_ unionByName _)
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "tenant", "doc", "rrf_fp", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4))).toSet
    assert(rset(grouped) == rset(byGroup) && rset(grouped).nonEmpty)
  }

  test("exhaustive probe is exact per tenant (every group fills or is spent)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val qs = emb.where(col("vec_id") < 2)
    val got = Ivf.searchGrouped(postings, qs, "embedding", "vec_id",
      model, k = 5, groupCol = "label",
      groups = emb.select(col("label")).distinct(), nprobe0 = 8)
    // every (query, label) cell holds exactly min(k, |label postings
    // excluding self|) rows — nothing under-fills at the exhaustive
    // probe
    val sizes = got.groupBy("qid", "label").count().collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val qids = qs.select("vec_id").collect().map(_.getLong(0))
    val labelCounts = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qLabel = emb.where(col("vec_id") < 2).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (q <- qids; (l, n) <- labelCounts) {
      val avail = n - (if (qLabel(q) == l) 1 else 0)
      assert(sizes.getOrElse((q, l), 0L) == math.min(5L, avail),
        s"cell ($q, $l) must hold min(k, $avail) rows")
    }
  }
}
