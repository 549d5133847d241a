package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Keyset scroll + exact count over the persisted IVF layout: the
  * page walk visits the live filtered set exactly once in id order,
  * terminates with an empty page, and countIndex agrees with the
  * walk.
  */
class ScrollCountSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def buildMasked(): String = {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("scroll_idx")
      .resolve("index").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, idx)
    Ivf.tombstoneVectors(spark, idx,
      emb.where(col("vec_id") % 5 === 1).select(col("vec_id")), "vec_id")
    idx
  }

  test("the page walk covers the live filtered set exactly once, in order") {
    val idx = buildMasked()
    val filt = Some(col("vec_id") % 3 === 0)
    val want = emb.where(col("vec_id") % 3 === 0 && col("vec_id") % 5 =!= 1)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    var after: Option[Long] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var page = Ivf.scroll(spark, idx, "vec_id", after, 7, filt)
      .collect().map(_.getLong(0)).toSeq
    while (page.nonEmpty) {
      assert(page == page.sorted, "each page is id-ordered")
      seen ++= page
      after = Some(page.last)
      page = Ivf.scroll(spark, idx, "vec_id", after, 7, filt)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(seen.toSeq == want && want.nonEmpty,
      "concatenated pages must equal the sorted live filtered ids")
  }

  test("countIndex agrees with the serving read under filter + mask") {
    val idx = buildMasked()
    val got = Ivf.countIndex(spark, idx, "vec_id",
      Some(col("vec_id") % 3 === 0)).head().getLong(0)
    val want = emb.where(col("vec_id") % 3 === 0 && col("vec_id") % 5 =!= 1)
      .count()
    assert(got == want && want > 0)
    assert(Ivf.countIndex(spark, idx, "vec_id").head().getLong(0) ==
      emb.where(col("vec_id") % 5 =!= 1).count())
    // a missing or emptied layout pages empty and counts zero
    assert(Ivf.countIndex(spark, idx + "_missing", "vec_id")
      .head().getLong(0) == 0L)
    assert(Ivf.scroll(spark, idx + "_missing", "vec_id", None, 5).count() == 0L)
    Ivf.deleteVectors(spark, idx, emb.select(col("vec_id")), "vec_id")
    assert(Ivf.countIndex(spark, idx, "vec_id").head().getLong(0) == 0L)
    assert(Ivf.scroll(spark, idx, "vec_id", None, 5).count() == 0L)
  }

  test("scroll rejects a non-positive limit") {
    val idx = buildMasked()
    intercept[IllegalArgumentException] {
      Ivf.scroll(spark, idx, "vec_id", None, 0)
    }
  }

  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("bm25 scroll walks distinct live docs in order; countDocs agrees " +
    "with serving, not with stale stats") {
    val idx = java.nio.file.Files.createTempDirectory("bm25_sc")
      .resolve("index").toString
    Bm25.writeIndex(spark, docs, "text", "doc_id", idx)
    Bm25.tombstoneDocs(spark, idx,
      docs.where(col("doc_id") % 5 === 1).select(col("doc_id")))
    val filt = Some(col("doc") % 3 === 0)
    val want = docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    var after: Option[Long] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var page = Bm25.scroll(spark, idx, after, 7, filt)
      .collect().map(_.getLong(0)).toSeq
    while (page.nonEmpty) {
      assert(page == page.sorted && page.distinct == page,
        "each page is id-ordered and duplicate-free (a doc has many " +
          "postings rows)")
      seen ++= page
      after = Some(page.last)
      page = Bm25.scroll(spark, idx, after, 7, filt)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(seen.toSeq == want && want.nonEmpty)
    // count reports the SERVED set (mask applied), not the stats
    // table's N (which keeps tombstoned mass until the fold)
    assert(Bm25.countDocs(spark, idx, filt).head().getLong(0) ==
      want.size.toLong)
    assert(Bm25.countDocs(spark, idx).head().getLong(0) ==
      docs.where(col("doc_id") % 5 =!= 1).count())
    // a missing index, and one emptied by a delete-everything pass,
    // count zero and page empty (the family's missing-layout convention)
    assert(Bm25.countDocs(spark, idx + "_missing").head().getLong(0) == 0L)
    assert(Bm25.scroll(spark, idx + "_missing", None, 5).count() == 0L)
    Bm25.deleteDocs(spark, idx, docs.select(col("doc_id")))
    assert(Bm25.countDocs(spark, idx).head().getLong(0) == 0L)
    assert(Bm25.scroll(spark, idx, None, 5).count() == 0L)
  }

  test("sparse countIndex: live distinct docs under filter + mask; " +
    "zero on a missing layout") {
    val idx = java.nio.file.Files.createTempDirectory("sparse_sc")
      .resolve("index").toString
    val sp = Sparse.sparsify(emb, "embedding", "vec_id")
    Sparse.writeIndex(sp, idx)
    Sparse.tombstoneDocs(spark, idx,
      emb.where(col("vec_id") % 5 === 1).select(col("vec_id")))
    val want = sp.select(col("doc")).distinct()
      .where(col("doc") % 3 === 0 && col("doc") % 5 =!= 1).count()
    assert(Sparse.countIndex(spark, idx,
      Some(col("doc") % 3 === 0)).head().getLong(0) == want && want > 0)
    assert(Sparse.countIndex(spark,
      idx + "_missing").head().getLong(0) == 0L)
  }

  test("sparse scroll walks distinct live docs in order; a missing " +
    "layout yields an empty page") {
    val idx = java.nio.file.Files.createTempDirectory("sparse_scr")
      .resolve("index").toString
    val sp = Sparse.sparsify(emb, "embedding", "vec_id")
    Sparse.writeIndex(sp, idx)
    Sparse.tombstoneDocs(spark, idx,
      emb.where(col("vec_id") % 5 === 1).select(col("vec_id")))
    val filt = Some(col("doc") % 3 === 0)
    val want = sp.select(col("doc")).distinct()
      .where(col("doc") % 3 === 0 && col("doc") % 5 =!= 1)
      .collect().map(_.getLong(0)).sorted.toSeq
    var after: Option[Long] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var page = Sparse.scroll(spark, idx, after, 7, filt)
      .collect().map(_.getLong(0)).toSeq
    while (page.nonEmpty) {
      assert(page == page.sorted && page.distinct == page)
      seen ++= page
      after = Some(page.last)
      page = Sparse.scroll(spark, idx, after, 7, filt)
        .collect().map(_.getLong(0)).toSeq
    }
    assert(seen.toSeq == want && want.nonEmpty)
    assert(Sparse.scroll(spark, idx + "_missing", None, 5).count() == 0L)
    intercept[IllegalArgumentException](
      Sparse.scroll(spark, idx, None, 0))
  }

  test("multivec countDocs/scroll: live distinct DOCS (not vectors) " +
    "under filter + the pair's mask; empty on a missing pair") {
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("mv_sc")
      .resolve("pair").toString
    MultiVector.writeIndex(spark, docVecs, model, root)
    MultiVector.tombstoneDocs(spark, root,
      docVecs.where(col("doc") % 5 === 1).select(col("doc")).distinct())
    val live = docVecs.select(col("doc")).distinct()
      .where(col("doc") % 3 === 0 && col("doc") % 5 =!= 1)
    val want = live.count()
    assert(MultiVector.countDocs(spark, root,
      Some(col("doc") % 3 === 0)).head().getLong(0) == want && want > 0)
    val wantIds = live.collect().map(_.getLong(0)).sorted.toSeq
    var after: Option[Long] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var page = MultiVector.scroll(spark, root, after, 5,
      Some(col("doc") % 3 === 0)).collect().map(_.getLong(0)).toSeq
    while (page.nonEmpty) {
      assert(page == page.sorted && page.distinct == page)
      seen ++= page
      after = Some(page.last)
      page = MultiVector.scroll(spark, root, after, 5,
        Some(col("doc") % 3 === 0)).collect().map(_.getLong(0)).toSeq
    }
    assert(seen.toSeq == wantIds)
    assert(MultiVector.countDocs(spark, root + "_missing")
      .head().getLong(0) == 0L)
    assert(MultiVector.scroll(spark, root + "_missing", None, 5)
      .count() == 0L)
  }

  test("scroll plan shape on the new tiers: keyset predicate pushed to " +
    "the parquet scan, TakeOrderedAndProject cut (no global sort, no " +
    "OFFSET scan-and-discard)") {
    // sparse
    val sIdx = java.nio.file.Files.createTempDirectory("sparse_plan")
      .resolve("index").toString
    Sparse.writeIndex(Sparse.sparsify(emb, "embedding", "vec_id"), sIdx)
    val sPlan = Sparse.scroll(spark, sIdx, Some(100L), 10)
      .queryExecution.executedPlan.toString
    assert(sPlan.contains("TakeOrderedAndProject"),
      s"sparse scroll cut must be a bounded heap, got:\n$sPlan")
    assert("""PushedFilters: \[[^\]]*GreaterThan\(doc,100\)""".r
      .findFirstIn(sPlan).isDefined,
      s"sparse keyset predicate must reach the scan, got:\n$sPlan")
    // multivec
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val mRoot = java.nio.file.Files.createTempDirectory("mv_plan")
      .resolve("pair").toString
    MultiVector.writeIndex(spark, docVecs, model, mRoot)
    val mPlan = MultiVector.scroll(spark, mRoot, Some(10L), 10)
      .queryExecution.executedPlan.toString
    assert(mPlan.contains("TakeOrderedAndProject") &&
      """PushedFilters: \[[^\]]*GreaterThan\(doc,10\)""".r
        .findFirstIn(mPlan).isDefined,
      s"multivec scroll must heap-cut over a pushed keyset scan:\n$mPlan")
  }

  test("hybrid countDocs/scroll ride the lexical side (the pair's doc " +
    "universe) through the paired tombstones") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("hy_sc")
      .resolve("pair").toString
    Hybrid.writeIndex(spark, docs, "text", "doc_id", emb, "vec_id",
      "embedding", model, root)
    Hybrid.tombstoneDocs(spark, root,
      docs.where(col("doc_id") % 5 === 1).select(col("doc_id")), "vec_id")
    val want = docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 5 =!= 1)
      .count()
    assert(Hybrid.countDocs(spark, root,
      Some(col("doc") % 3 === 0)).head().getLong(0) == want && want > 0)
    val p1 = Hybrid.scroll(spark, root, None, 7,
      Some(col("doc") % 3 === 0)).collect().map(_.getLong(0)).toSeq
    assert(p1 == p1.sorted && p1.nonEmpty && p1.forall(d =>
      d % 3 == 0 && d % 5 != 1))
    assert(Hybrid.countDocs(spark, root + "_missing").head().getLong(0) == 0L)
    assert(Hybrid.scroll(spark, root + "_missing", None, 5).count() == 0L)
  }
}
