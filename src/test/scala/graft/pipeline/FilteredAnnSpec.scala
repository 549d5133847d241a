package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Payload-filtered ANN (the reference's filter-inside-search,
  * debgpt/vector_service/app.py:250-263) on the indexed serving
  * paths: the predicate restricts the CANDIDATE set below the
  * ranking window, and adaptive probe widening keeps k filled under
  * selective filters.
  */
class FilteredAnnSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"), col("label"))

  private def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a < k-match filter escalates to the exhaustive probe: exact over the filtered corpus") {
    val f = col("label") === 3 && col("vec_id") % 13 === 0
    val matches = emb.where(f).count()
    assert(matches > 0 && matches < 5, s"premise: 0 < matches < k, got $matches")
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val qs = emb.where(col("vec_id") < 5)
    val got = Ivf.searchFiltered(postings, qs, "embedding", "vec_id",
      model, k = 5, filter = f, nprobe0 = 1)
    val brute = Similarity.bruteForceTopK(emb.where(f), qs,
      "embedding", "vec_id", k = 5)
    assert(ids(got) == ids(brute),
      "escalated filtered probe must equal brute force over the filter")
    // every query returns ALL matches (minus a matching self), never 0
    val perQ = got.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    qs.select("vec_id").collect().map(_.getLong(0)).foreach { q =>
      assert(perQ.getOrElse(q, 0L) >= matches - 1,
        s"query $q under-filled: ${perQ.get(q)} of $matches matches")
    }
  }

  test("a broad filter at nprobe0=1 still fills k for every query (adaptive widening)") {
    val f = col("label") === 3
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val qs = emb.where(col("vec_id") < 10)
    val got = Ivf.searchFiltered(postings, qs, "embedding", "vec_id",
      model, k = 5, filter = f, nprobe0 = 1)
    val counts = got.groupBy("qid").count().collect().map(_.getLong(1))
    assert(counts.length == 10 && counts.forall(_ == 5L),
      s"every query must hold k survivors: ${counts.mkString(",")}")
    // and every survivor respects the predicate
    val badLabel = got.join(
      emb.select(col("vec_id").as("nid"), col("label")), "nid")
      .where(col("label") =!= 3).count()
    assert(badLabel == 0, "a survivor escaped the payload filter")
  }

  test("filtered PQ serving: payload rides the codes layout, filter pushes to the scan, exact under <= k matches") {
    val f = col("label") === 3 && col("vec_id") % 13 === 0
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val root = java.nio.file.Files.createTempDirectory("ivf_pqf")
    val idx = root.resolve("index").toString
    Ivf.writeIndexCodes(postings, "embedding", Ivf.Codec.Pq(pq), idx,
      model = Some(model))
    val disk = Ivf.readIndex(spark, idx)
    assert(disk.columns.contains("label"),
      "payload column must ride the persisted codes layout")
    // the payload predicate reaches the parquet scan of the codes
    // layout (PushedFilters), below the probe's ranking window
    val plan = disk.where(f).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("label"),
      s"label filter not pushed to the codes scan:\n$plan")
    val qs = emb.where(col("vec_id") < 5)
    val got = Ivf.searchCodesFiltered(disk,
      emb.select(col("vec_id"), col("embedding")), qs,
      "embedding", "vec_id", Ivf.Codec.Pq(pq), model, k = 5, filter = f,
        nprobe0 = 1)
    val brute = Similarity.bruteForceTopK(emb.where(f), qs,
      "embedding", "vec_id", k = 5)
    assert(ids(got) == ids(brute),
      "filtered PQ serve must equal brute force over the filter")
  }

  test("filtered codes (int8) serving matches the float filtered path under escalation") {
    val f = col("label") === 3 && col("vec_id") % 13 === 0
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val postings = Ivf.assign(emb, "embedding", model)
    val root = java.nio.file.Files.createTempDirectory("ivf_i8f")
    val idx = root.resolve("index").toString
    // int8 layout with the payload column riding it
    postings.withColumn("codes", Similarity.int8Codes(col("embedding")))
      .drop("embedding")
      .write.mode("overwrite").partitionBy("cluster").parquet(idx)
    val qs = emb.where(col("vec_id") < 5)
    val got = Ivf.searchCodesFiltered(Ivf.readIndex(spark, idx), emb, qs,
      "embedding", "vec_id", Ivf.Codec.Int8, model, k = 5, filter = f,
        nprobe0 = 1)
    // int8 scoring reorders, but under a < k filter the SET of
    // survivors is every match — same as the float path's set
    val brute = Similarity.bruteForceTopK(emb.where(f), qs,
      "embedding", "vec_id", k = 5)
    assert(ids(got) == ids(brute),
      "filtered int8 serve must return every filtered match")
  }
}
