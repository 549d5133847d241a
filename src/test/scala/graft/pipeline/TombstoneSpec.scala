package graft.pipeline

import graft.SparkTestBase
import graft.core.Tombstones
import org.apache.spark.sql.functions._

/** LSM-style tombstone deletion for the vector index: an O(|ids|)
  * sidecar append masks at serving latency, the physical rewrite
  * amortizes into folds, and every crash point between them is
  * idempotent.
  */
class TombstoneSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def dataFiles(p: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Path.of(p))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(f => f.toString.endsWith(".parquet") &&
        !f.toString.contains(Tombstones.Name)).map(_.toString).toSeq
    } finally s.close()
  }

  test("tombstone masks at serving latency without touching a postings byte; fold retires it") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val decoys = emb.where(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("tomb")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(emb.unionByName(decoys), "embedding", model), idx)
    val before = dataFiles(idx).sorted
    val total = Ivf.readIndex(spark, idx).count()

    Ivf.tombstoneVectors(spark, idx, decoys.select(col("vec_id")), "vec_id")
    // masked immediately: the serving read sees only survivors...
    val serving = Ivf.readIndexServing(spark, idx, "vec_id")
    assert(serving.count() == total - decoys.count())
    assert(serving.where(col("vec_id") >= 100000L).count() == 0)
    // ...while not one postings byte was rewritten
    assert(dataFiles(idx).sorted == before,
      "tombstoning must not touch the postings files")
    // the raw read still carries the masked rows (they fold later)
    assert(Ivf.readIndex(spark, idx).count() == total)

    Ivf.foldTombstones(spark, idx, "vec_id")
    // physically gone, sidecar retired, serving unchanged
    assert(Ivf.readIndex(spark, idx).count() == total - decoys.count())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Path.of(Tombstones.path(idx))))
    assert(Ivf.readIndexServing(spark, idx, "vec_id").count() ==
      total - decoys.count())
    // idempotent: fold with no sidecar is a no-op
    Ivf.foldTombstones(spark, idx, "vec_id")
    assert(Ivf.readIndex(spark, idx).count() == total - decoys.count())
  }

  /** The data-less layout checks, on each tier whose name passes `runs`. */
  private def checkDataLess(runs: String => Boolean): Unit = {
    lazy val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val some = emb.where(col("vec_id") < 20)
    val someIds = some.select(col("vec_id").as("doc"))
    val someDocs = spark.read.parquet(sf() + "/documents.parquet")
      .where(col("doc_id") < 20).select(col("doc_id"), col("text"))
    val someVecs = some.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val fs = new org.apache.hadoop.fs.Path(sf())
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per tier: build a layout and delete EVERYTHING; tombstone; fold;
    // and a read that must see the empty index (a serve or count must
    // answer empty, never die on schema inference)
    case class Tier(name: String, emptied: String => Unit,
                    tombstone: String => Unit, fold: String => Unit,
                    readsEmpty: String => Boolean)
    val tiers = Seq(
      Tier("ivf",
        idx => {
          Ivf.writeIndex(Ivf.assign(some, "embedding", model), idx)
          Ivf.deleteVectors(spark, idx, some.select(col("vec_id")), "vec_id")
        },
        Ivf.tombstoneVectors(spark, _, some.select(col("vec_id")), "vec_id"),
        Ivf.foldTombstones(spark, _, "vec_id"),
        // the layout holds no cluster dirs afterwards
        idx => !fs.exists(new org.apache.hadoop.fs.Path(idx)) ||
          !fs.listStatus(new org.apache.hadoop.fs.Path(idx))
            .exists(f => f.getPath.getName.startsWith("cluster="))),
      Tier("sparse",
        idx => {
          Sparse.writeIndex(Sparse.sparsify(some, "embedding", "vec_id"), idx)
          Sparse.deleteDocs(spark, idx, someIds)
        },
        Sparse.tombstoneDocs(spark, _, someIds),
        Sparse.foldTombstones(spark, _),
        idx => Sparse.searchIndex(spark, idx,
          Sparse.sparsify(emb.where(col("vec_id") < 2), "embedding", "vec_id"),
          k = 5).isEmpty),
      Tier("bm25",
        idx => {
          Bm25.writeIndex(spark, someDocs, "text", "doc_id", idx)
          Bm25.deleteDocs(spark, idx, someDocs.select(col("doc_id")))
        },
        Bm25.tombstoneDocs(spark, _, someDocs.select(col("doc_id"))),
        Bm25.foldTombstones(spark, _),
        idx => Bm25.countDocs(spark, idx).head().getLong(0) == 0L),
      Tier("multivec",
        root => {
          MultiVector.writeIndex(spark, someVecs, model, root)
          MultiVector.deleteDocs(spark, root, someVecs.select(col("doc")))
        },
        MultiVector.tombstoneDocs(spark, _, someVecs.select(col("doc"))),
        MultiVector.foldTombstones(spark, _),
        root => MultiVector.countDocs(spark, root).head().getLong(0) == 0L))
    tiers.filter(t => runs(t.name)).foreach { t =>
      val idx = java.nio.file.Files.createTempDirectory(s"tomb_empty_${t.name}")
        .resolve("index").toString
      val tp = new org.apache.hadoop.fs.Path(Tombstones.path(idx))
      t.emptied(idx)
      assert(t.readsEmpty(idx), s"${t.name}: the emptied layout reads empty")
      // a late erasure request (StreamingForget shape) must NOT conjure
      // a sidecar-only directory that later reads die on
      t.tombstone(idx)
      assert(!fs.exists(tp),
        s"${t.name}: tombstone append on a data-less layout must not " +
          "conjure a sidecar")
      // fold is a guarded no-op too — including against a MANUALLY
      // planted stale sidecar (crash leftovers)
      fs.mkdirs(tp)
      t.fold(idx)
      assert(!fs.exists(tp), s"${t.name}: fold must retire a stale sidecar")
      // and a tombstone append HEALS the planted sidecar instead of
      // growing it
      fs.mkdirs(tp)
      t.tombstone(idx)
      assert(!fs.exists(tp), s"${t.name}: tombstone must heal a stale sidecar")
      assert(t.readsEmpty(idx), s"${t.name}: the healed layout reads empty")
    }
  }

  test("tombstoning a data-less layout is a no-op that heals stale sidecars") {
    checkDataLess(_ != "sparse")
  }

  test("sparse: tombstoning a data-less layout is a no-op that heals sidecars") {
    checkDataLess(_ == "sparse")
  }

  test("search over the tombstoned layout equals search over a physically deleted one") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val decoys = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding")) // verbatim copies: any surviving decoy owns a slot
    val root = java.nio.file.Files.createTempDirectory("tomb2")
    val a = root.resolve("masked").toString
    val b = root.resolve("rewritten").toString
    val all = Ivf.assign(emb.unionByName(decoys), "embedding", model)
      .localCheckpoint(true)
    Ivf.writeIndex(all, a)
    Ivf.writeIndex(all, b)
    graft.core.Pinned.release(all)
    Ivf.tombstoneVectors(spark, a, decoys.select(col("vec_id")), "vec_id")
    Ivf.deleteVectors(spark, b, decoys.select(col("vec_id")), "vec_id")
    val qs = emb.where(col("vec_id") < 5)
    def ids(p: String): Set[(Long, Long)] =
      Ivf.search(Ivf.readIndexServing(spark, p, "vec_id"), qs,
        "embedding", "vec_id", model, k = 5, nprobe = 8)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids(a) == ids(b))
    assert(ids(a).nonEmpty && ids(a).forall(_._2 < 100000L))
  }

  test("upsert replaces by id: no stale posting survives, no id indexes twice") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val stale = emb.where(col("vec_id") < 40)
      .select(col("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("ups")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(
      emb.where(col("vec_id") >= 40).unionByName(stale), "embedding",
      model), idx)
    Ivf.upsertVectors(emb.where(col("vec_id") < 40), "embedding",
      "vec_id", model, idx)
    val grown = Ivf.readIndex(spark, idx)
    // exactly one posting per id...
    assert(grown.groupBy("vec_id").count().where(col("count") > 1).count() == 0)
    assert(grown.count() == emb.count())
    // ...and it is the TRUE vector: the grown index is row-identical
    // to a one-shot build (cluster assignment included)
    val oneShot = Ivf.assign(emb, "embedding", model)
      .select("vec_id", "cluster")
    assert(grown.select("vec_id", "cluster").except(oneShot).count() == 0)
    // idempotent: re-running the same upsert changes nothing (the
    // crash-between-steps heal path)
    Ivf.upsertVectors(emb.where(col("vec_id") < 40), "embedding",
      "vec_id", model, idx)
    assert(Ivf.readIndex(spark, idx).count() == emb.count())
  }

  test("versioned upsert: global latest-wins masks cross-cluster stale versions; fold retires the history") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val stale = emb.where(col("vec_id") < 40)
      .select(col("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
    // fixture premise: rotation moves at least one vector to a
    // different cluster — the case candidate-local latest-wins
    // cannot handle (the stale copy would serve from its own cell)
    val moved = Ivf.assign(stale, "embedding", model)
      .select(col("vec_id"), col("cluster").as("c1"))
      .join(Ivf.assign(emb.where(col("vec_id") < 40), "embedding", model)
        .select(col("vec_id"), col("cluster").as("c2")), "vec_id")
      .where(col("c1") =!= col("c2")).count()
    assert(moved > 0, "fixture premise: a re-embedding must change clusters")

    val idx = java.nio.file.Files.createTempDirectory("ver")
      .resolve("index").toString
    Ivf.writeIndexVersioned(Ivf.assign(
      emb.where(col("vec_id") >= 40).unionByName(stale), "embedding",
      model), idx)
    Ivf.upsertVersioned(emb.where(col("vec_id") < 40), "embedding",
      "vec_id", model, idx, seq = 1L)
    // both versions' bytes on disk...
    assert(Ivf.readIndex(spark, idx).count() == emb.count() + 40)
    // ...but the serve sees exactly the corrected corpus
    val latest = Ivf.readIndexLatest(spark, idx, "vec_id")
    assert(latest.count() == emb.count())
    val oneShot = Ivf.assign(emb, "embedding", model)
      .select("vec_id", "cluster")
    assert(latest.select("vec_id", "cluster").except(oneShot).count() == 0)

    // replaying the same upsert (crash-heal) changes nothing served
    Ivf.upsertVersioned(emb.where(col("vec_id") < 40), "embedding",
      "vec_id", model, idx, seq = 1L)
    assert(Ivf.readIndexLatest(spark, idx, "vec_id")
      .select("vec_id", "cluster").except(oneShot).count() == 0)

    // fold: losers' bytes leave, sidecar retired, serve unchanged
    Ivf.foldVersions(spark, idx, "vec_id")
    assert(Ivf.readIndex(spark, idx).count() == emb.count())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Path.of(Ivf.latestPath(idx))))
    assert(Ivf.readIndexLatest(spark, idx, "vec_id")
      .select("vec_id", "cluster").except(oneShot).count() == 0)
  }

  test("sequential correction runs compose: the fold re-baselines seq to 0") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    def scramble(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("ver_seq")
      .resolve("index").toString
    // build with STALE vectors for ids < 30
    Ivf.writeIndexVersioned(Ivf.assign(
      emb.where(col("vec_id") >= 30)
        .unionByName(scramble(emb.where(col("vec_id") < 30))),
      "embedding", model), idx)
    // first correction run at seq 3 (a late batch), folded at close
    Ivf.upsertVersioned(emb.where(col("vec_id") < 30), "embedding",
      "vec_id", model, idx, seq = 3L)
    Ivf.foldVersions(spark, idx, "vec_id")
    // ids < 30 are now correct. SECOND run: scramble ids 10..19
    // again (a fresh modification), seqs restarting at 1 — without
    // re-baselining, the folded seq-3 winners would beat it
    Ivf.upsertVersioned(scramble(emb.where(col("vec_id") >= 10 &&
      col("vec_id") < 20)), "embedding", "vec_id", model, idx, seq = 1L)
    val latest = Ivf.readIndexLatest(spark, idx, "vec_id")
    assert(latest.count() == emb.count(),
      "second run's corrections must win, not coexist")
    // the re-modified rows serve the SECOND run's vectors: their
    // cluster assignments equal the scrambled vectors' assignments
    val wantMoved = Ivf.assign(scramble(emb.where(col("vec_id") >= 10 &&
      col("vec_id") < 20)), "embedding", model).select("vec_id", "cluster")
    assert(latest.where(col("vec_id") >= 10 && col("vec_id") < 20)
      .select("vec_id", "cluster").except(wantMoved).count() == 0)
  }

  test("a sidecar parked mid-promote still masks: readIndexLatest runs the recovery preamble") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val stale = emb.where(col("vec_id") < 20)
      .select(col("vec_id"),
        concat(slice(col("embedding"), 8, 57),
          slice(col("embedding"), 1, 7)).as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("ver_rec")
      .resolve("index").toString
    Ivf.writeIndexVersioned(Ivf.assign(
      emb.where(col("vec_id") >= 20).unionByName(stale), "embedding",
      model), idx)
    Ivf.upsertVersioned(emb.where(col("vec_id") < 20), "embedding",
      "vec_id", model, idx, seq = 1L)
    // simulate a crash between mergeLatest's park and promote: the
    // sidecar sits at __old, no live dir — an exists-check without
    // recovery would silently serve stale versions
    val lp = java.nio.file.Path.of(Ivf.latestPath(idx))
    java.nio.file.Files.move(lp,
      java.nio.file.Path.of(Ivf.latestPath(idx) + "__old"))
    val latest = Ivf.readIndexLatest(spark, idx, "vec_id")
    assert(latest.count() == emb.count(),
      "parked sidecar must be recovered, not read as absent")
    val oneShot = Ivf.assign(emb, "embedding", model)
      .select("vec_id", "cluster")
    assert(latest.select("vec_id", "cluster").except(oneShot).count() == 0)
  }

  test("BM25 Lucene-model tombstones: masked candidates under stale stats; fold restores stats-exact scores") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val decoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(col("text"), "[aeiou]", "9").as("text"))
    val qs = Seq(0L -> "hash join", 1L -> "fast table scan")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select("qid", "doc", "score_fp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val root = java.nio.file.Files.createTempDirectory("bm25_tomb_s")
    val withD = root.resolve("withD").toString
    val clean = root.resolve("clean").toString
    Bm25.writeIndex(spark, docs.unionByName(decoys), "text", "doc_id", withD)
    Bm25.writeIndex(spark, docs, "text", "doc_id", clean)
    Bm25.tombstoneDocs(spark, withD, decoys.select(col("doc_id")))
    val masked = rows(Bm25.searchIndex(spark, withD, qs, k = 10))
    // no decoy leaks through the mask...
    assert(masked.nonEmpty && masked.forall(_._2 < 100000L))
    // ...but the stats still carry the decoys' mass (Lucene model):
    // scores differ from a decoy-free build
    val freshScores = rows(Bm25.searchIndex(spark, clean, qs, k = 10))
    assert(masked != freshScores,
      "masked serve must score under stale (decoy-inclusive) stats")
    // the fold recomputes stats from the survivors: now identical
    Bm25.foldTombstones(spark, withD)
    assert(rows(Bm25.searchIndex(spark, withD, qs, k = 10)) == freshScores)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Path.of(Tombstones.path(withD))))
  }

  test("hybrid tombstones mask both sides; fold equals the decoy-free paired build") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val embL = emb
    val textDecoys = docs.select((col("doc_id") + 100000L).as("doc_id"),
      regexp_replace(col("text"), "[aeiou]", "9").as("text"))
    val vecDecoys = embL.where(col("vec_id") < 2)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val model = Ivf.train(embL, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("hyb_tomb_s")
    val a = root.resolve("tombstoned").toString
    val b = root.resolve("clean").toString
    Hybrid.writeIndex(spark, docs.unionByName(textDecoys), "text", "doc_id",
      embL.unionByName(vecDecoys), "vec_id", "embedding", model, a)
    Hybrid.writeIndex(spark, docs, "text", "doc_id", embL, "vec_id",
      "embedding", model, b)
    val ids = textDecoys.select(col("doc_id").as("id"))
      .unionByName(vecDecoys.select(col("vec_id").as("id"))).distinct()
    Hybrid.tombstoneDocs(spark, a, ids, "vec_id")
    val qs = Seq(0L -> "hash join")
    val qv = embL.where(col("vec_id") < 1)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    def serve(r: String): Seq[(Long, Long)] =
      Hybrid.searchIndex(spark, r, qs, qv, model, "embedding", "vec_id",
        kCand = 10, k = 5, nprobe = 8)
        .select("qid", "doc").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    // masked serve leaks no decoy on either side
    assert(serve(a).nonEmpty && serve(a).forall(_._2 < 100000L))
    // post-fold the paired layout IS the decoy-free build
    Hybrid.foldTombstones(spark, a, "vec_id")
    assert(serve(a) == serve(b))
  }

  test("tombstones survive a plain compaction (hidden-dir carry-over) and mask on codes layouts too") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val decoys = emb.where(col("vec_id") < 30)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("tomb3")
      .resolve("index").toString
    Ivf.writeIndexCodes(
      Ivf.assign(emb.unionByName(decoys), "embedding", model),
      "embedding", Ivf.Codec.Int8, idx)
    Ivf.tombstoneVectors(spark, idx, decoys.select(col("vec_id")), "vec_id")
    Ivf.compactIndex(spark, idx) // must NOT shed the mask
    val serving = Ivf.readIndexServing(spark, idx, "vec_id")
    assert(serving.where(col("vec_id") >= 100000L).count() == 0,
      "compaction shed the tombstone mask")
    // and the serve path composes: codes search over the serving read
    val got = Ivf.searchCodes(serving, emb, emb.where(col("vec_id") < 3),
      "embedding", "vec_id", Ivf.Codec.Int8, model, k = 5, nprobe = 8)
      .select("nid").collect().map(_.getLong(0))
    assert(got.nonEmpty && got.forall(_ < 100000L))
  }

  test("upsert REVIVES a tombstoned id: the fresh copy serves immediately " +
    "and survives the fold (dense tier)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("tombrev")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), idx)
    // delete-then-re-add: tombstone ids 0-9 AND an id that stays dead
    Ivf.tombstoneVectors(spark, idx,
      emb.where(col("vec_id") < 11).select(col("vec_id")), "vec_id")
    Ivf.upsertVectors(emb.where(col("vec_id") < 10), "embedding",
      "vec_id", model, idx)
    // the re-added ids serve; the un-upserted tombstone (10) stays masked
    val served = Ivf.readIndexServing(spark, idx, "vec_id")
      .where(col("vec_id") < 11).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served == (0L until 10L).toSet,
      s"upsert must revive exactly its batch from the mask, got $served")
    // the fold must RETIRE the remaining mask without erasing the
    // re-added copies (the silent-data-loss sequence the revive closes)
    Ivf.foldTombstones(spark, idx, "vec_id")
    val after = Ivf.readIndexServing(spark, idx, "vec_id")
      .where(col("vec_id") < 11).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(after == (0L until 10L).toSet,
      s"fold after upsert erased re-added docs: $after")
  }

  test("upsert revives a tombstoned doc on the sparse and multivec tiers") {
    // sparse
    val sidx = java.nio.file.Files.createTempDirectory("tombrevsp")
      .resolve("index").toString
    Sparse.writeIndex(Sparse.sparsify(emb, "embedding", "vec_id"), sidx)
    Sparse.tombstoneDocs(spark, sidx,
      emb.where(col("vec_id") < 2).select(col("vec_id")))
    Sparse.upsertDocs(spark, sidx, emb.where(col("vec_id") < 2),
      "embedding", "vec_id")
    Sparse.foldTombstones(spark, sidx)
    val q = Sparse.sparsify(emb.where(col("vec_id") < 2), "embedding",
      "vec_id")
    // self-match at rank 1 proves the revived copy serves post-fold
    val self = Sparse.searchIndex(spark, sidx, q, k = 1,
      excludeSelf = false)
    assert(self.where(col("qid") === col("nid")).count() == 2,
      "revived sparse docs must serve (self-dot owns rank 1)")
    // multivec
    val root = java.nio.file.Files.createTempDirectory("tombrevmv")
      .resolve("pair").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    MultiVector.writeIndex(spark, docVecs, model, root)
    MultiVector.tombstoneDocs(spark, root,
      docVecs.where(col("doc") < 2).select(col("doc")).distinct())
    MultiVector.upsertDocs(spark, root, docVecs.where(col("doc") < 2),
      model)
    MultiVector.foldTombstones(spark, root)
    val queryVecs = emb.where(col("vec_id") < 4)
      .select(lit(0L).as("qid"), col("embedding").as("vec"))
    val got = MultiVector.searchIndex(spark, root, queryVecs, model,
      k = 2, nprobe = 8).select("doc").collect().map(_.getLong(0)).toSet
    assert(got.contains(0L) || got.contains(1L),
      s"revived multivec docs must serve after the fold, got $got")
  }

  test("versioned upsert also revives a tombstoned id (the streaming-" +
    "ingest path)") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("tombrevv")
      .resolve("index").toString
    Ivf.writeIndexVersioned(Ivf.assign(emb, "embedding", model), idx)
    Ivf.tombstoneVectors(spark, idx,
      emb.where(col("vec_id") < 3).select(col("vec_id")), "vec_id")
    Ivf.upsertVersioned(emb.where(col("vec_id") < 2), "embedding",
      "vec_id", model, idx, seq = 1L)
    // the re-added ids serve at their new seq; id 2 stays masked
    val served = Ivf.readIndexLatest(spark, idx, "vec_id")
      .where(col("vec_id") < 3).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served == Set(0L, 1L),
      s"versioned upsert must revive exactly its batch, got $served")
    // and the fold keeps the revived copies
    Ivf.foldTombstones(spark, idx, "vec_id")
    Ivf.foldVersions(spark, idx, "vec_id")
    val after = Ivf.readIndexLatest(spark, idx, "vec_id")
      .where(col("vec_id") < 3).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(after == Set(0L, 1L), s"folds erased revived docs: $after")
  }

  test("a tombstone sidecar parked mid-revive still masks: serving reads " +
    "run the recovery preamble") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val decoys = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("tombpark")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(emb.unionByName(decoys), "embedding", model),
      idx)
    Ivf.tombstoneVectors(spark, idx, decoys.select(col("vec_id")), "vec_id")
    // crash between the revive swap's two renames: mask parked at
    // __old, live sidecar missing
    val tp = new org.apache.hadoop.fs.Path(Tombstones.path(idx))
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(tp, new org.apache.hadoop.fs.Path(
      Tombstones.path(idx) + "__old")))
    assert(Ivf.readIndexServing(spark, idx, "vec_id")
        .where(col("vec_id") >= 100000L).count() == 0,
      "a parked mask must be recovered and applied, not read as absent")
  }
}
