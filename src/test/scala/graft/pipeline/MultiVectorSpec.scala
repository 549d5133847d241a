package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Late-interaction contracts beyond the exhaustive-probe oracle
  * rows: at a PARTIAL probe the surfaced scores are still exact
  * (the gather sees every vector of a candidate doc — the PLAID
  * safety property), candidate generation actually prunes cluster
  * dirs, scan scoring is partition-invariant, and recall at a
  * partial probe is sane on the fixture.
  */
class MultiVectorSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def docVecs = emb.select(
    (col("vec_id") / 4).cast("long").as("doc"), col("embedding").as("vec"))

  private def queryVecs = emb.where(col("vec_id") < 4)
    .select((col("vec_id") / 2).cast("long").as("qid"),
      col("embedding").as("vec"))

  private val exclude = Some(
    (q: org.apache.spark.sql.Column, dc: org.apache.spark.sql.Column) =>
      dc === (q / 2).cast("long"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "doc", "score", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("scan scoring is partition-invariant; exhaustive serve equals scan") {
    val a = rows(MultiVector.lateTopK(docVecs, queryVecs, 5, exclude))
    val b = rows(MultiVector.lateTopK(docVecs.repartition(7), queryVecs, 5,
      exclude))
    assert(a == b && a.nonEmpty)
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 16, iters = 3)
    val root = java.nio.file.Files.createTempDirectory("mv_srv")
      .resolve("index").toString
    MultiVector.writeIndex(spark, docVecs, model, root)
    assert(rows(MultiVector.searchIndex(spark, root, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == a)
  }

  test("partial probe: surfaced scores are EXACT (gather sees whole " +
      "docs) and recall is sane; candidate cells are dir-pruned") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 16, iters = 3)
    val root = java.nio.file.Files.createTempDirectory("mv_partial")
      .resolve("index").toString
    MultiVector.writeIndex(spark, docVecs, model, root)
    val truth = rows(MultiVector.lateTopK(docVecs, queryVecs, 5, exclude))
    val truthScores = truth.map(t => (t._1, t._2) -> t._3).toMap
    val part = MultiVector.searchIndex(spark, root, queryVecs, model,
      k = 5, nprobe = 2, excludeDoc = exclude)
    // cluster-dir pruning at nprobe 2: the probe read touches fewer
    // files than the full per-vector layout holds
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      val qe = df.queryExecution
      qe.executedPlan.execute().count()
      qe.executedPlan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val partRows = rows(part)
    assert(partRows.nonEmpty)
    // every surfaced (qid, doc) score equals the brute-force score —
    // approximation lives ONLY in which docs surface
    val bruteAll = MultiVector.lateTopK(docVecs, queryVecs, 1000, exclude)
      .select("qid", "doc", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    partRows.foreach { case (qid, doc, score, _) =>
      assert(bruteAll((qid, doc)) == score,
        s"surfaced score must be exact for ($qid, $doc)")
    }
    // recall floor on the fixture (2/16 cells per query vector)
    val hit = partRows.count(t => truthScores.contains((t._1, t._2)))
    assert(hit >= truth.size / 2,
      s"recall@5 collapsed at nprobe=2: $hit of ${truth.size}")
    // pruning: the candidate-generation read touches only the probed
    // cells' dirs (the serve's own scan is checkpoint-hidden, so
    // replicate its pruned read shape directly)
    val cells = queryVecs.collect()
      .flatMap(r => model.nearest(
        r.getAs[scala.collection.Seq[Float]]("vec").toArray, 2))
      .distinct.map(_.toLong).toSeq
    val all = filesRead(spark.read.parquet(s"$root/ivf"))
    val ivf0 = spark.read.parquet(s"$root/ivf")
    val pruned = filesRead(ivf0.where(
      graft.core.PartitionIn.inSet(ivf0, "cluster", cells)))
    assert(pruned < all, s"expected cell pruning: $pruned of $all")
  }

  test("tombstone masks at candidate generation; fold retires; merge folds src") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 16, iters = 3)
    val base = java.nio.file.Files.createTempDirectory("mv_tomb")
    val rootA = base.resolve("a").toString
    val rootB = base.resolve("b").toString
    // decoys: the queries' own vectors as 1-vector docs — near-self
    // scores that must top the ranks until masked
    val decoys = emb.where(col("vec_id") < 4)
      .select((col("vec_id") + 5000L).as("doc"), col("embedding").as("vec"))
    MultiVector.writeIndex(spark, docVecs, model, rootA)
    MultiVector.writeIndex(spark, decoys, model, rootB)
    val clean = rows(MultiVector.searchIndex(spark, rootA, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude))
    // merge the decoy shard in, then tombstone the decoys on the
    // merged pair: the serve must return to the clean ranking at
    // SERVING latency (no rewrite)
    MultiVector.mergeInto(spark, rootA, rootB)
    MultiVector.tombstoneDocs(spark, rootA,
      decoys.select(col("doc")).distinct())
    assert(rows(MultiVector.searchIndex(spark, rootA, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == clean)
    // fold retires the mask into the physical rewrite — same serve
    MultiVector.foldTombstones(spark, rootA)
    val fsA = new org.apache.hadoop.fs.Path(rootA)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsA.exists(
      new org.apache.hadoop.fs.Path(graft.core.Tombstones.path(rootA))))
    assert(rows(MultiVector.searchIndex(spark, rootA, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == clean)
    // a src shard with LIVE tombstones folds them before the move —
    // its masked docs must not resurrect in the merged pair
    val rootC = base.resolve("c").toString
    MultiVector.writeIndex(spark, decoys, model, rootC)
    MultiVector.tombstoneDocs(spark, rootC,
      decoys.select(col("doc")).distinct())
    MultiVector.mergeInto(spark, rootA, rootC)
    assert(rows(MultiVector.searchIndex(spark, rootA, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == clean,
      "src tombstones must fold at merge, not drop with the sidecar")
  }

  test("upsert replaces by doc: stale vector sets never serve") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 16, iters = 3)
    val root = java.nio.file.Files.createTempDirectory("mv_ups")
      .resolve("pair").toString
    val stale = emb.where(col("vec_id") < 4)
      .select((col("vec_id") + 10L).as("doc"), col("embedding").as("vec"))
    val staleDocs = Seq(10L, 11L, 12L, 13L)
    MultiVector.writeIndex(spark,
      docVecs.where(!col("doc").isInCollection(staleDocs))
        .unionByName(stale), model, root)
    MultiVector.upsertDocs(spark, root,
      docVecs.where(col("doc").isInCollection(staleDocs)), model)
    val clean = rows(MultiVector.lateTopK(docVecs, queryVecs, 5, exclude))
    assert(rows(MultiVector.searchIndex(spark, root, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == clean)
    // idempotent: re-running the same upsert converges to the same pair
    MultiVector.upsertDocs(spark, root,
      docVecs.where(col("doc").isInCollection(staleDocs)), model)
    assert(rows(MultiVector.searchIndex(spark, root, queryVecs, model,
      k = 5, nprobe = 16, excludeDoc = exclude)) == clean)
  }
}
