package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Multi-segment serve contracts — the LSM read path between
  * physical merges: the union of segment roots must serve exactly
  * what the physically merged index serves, global BM25 statistics
  * must see the union corpus, per-segment tombstone masks must
  * equal single-layout masked serving, and the dense path must
  * refuse segments assigned under a different quantizer.
  */
class SegmentServeSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val docs = spark.read.parquet(sf() + "/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p)

  private def rset(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet

  test("seg=N fast path: single-relation serve == per-segment serve; " +
    "a live tombstone sidecar falls back to per-segment masks") {
    // the r16 single-relation fast path triggers on >1 tombstone-free
    // seg=<id> roots under one parent — exactly what the streamed
    // write path produces; this pins (a) fast == slow results and
    // (b) a tombstoned segment dropping back to the masked path
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val root = tmp("segfp").resolve("segments").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    graft.streaming.StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") <= half), "embedding", root, model, 0L)
    graft.streaming.StreamingSegments.processBatch(spark,
      emb.where(col("vec_id") > half), "embedding", root, model, 1L)
    val segs = graft.streaming.StreamingSegments.segmentRoots(spark, root)
    def serve() = Ivf.searchCodes(
        Ivf.readSegmentsServing(spark, segs, "vec_id", model), emb,
        emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
        k = 4, nprobe = 8)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the fast path must serve the same columns and rows as a
    // single-segment (slow-path-shaped) serve of the union corpus
    val one = tmp("segfp1").resolve("segments").toString
    graft.streaming.StreamingSegments.processBatch(spark, emb,
      "embedding", one, model, 0L)
    val fast = serve()
    val single = Ivf.searchCodes(
        Ivf.readSegmentsServing(spark,
          graft.streaming.StreamingSegments.segmentRoots(spark, one),
          "vec_id", model), emb,
        emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
        k = 4, nprobe = 8)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == single && fast.nonEmpty)
    // schema parity: no partition-column leakage from the fast path
    assert(Ivf.readSegmentsServing(spark, segs, "vec_id", model)
      .columns.sorted.toSeq ==
      Ivf.readSegmentsServing(spark,
        graft.streaming.StreamingSegments.segmentRoots(spark, one),
        "vec_id", model).columns.sorted.toSeq)
    // tombstone one segment: the serve must fall back to per-segment
    // masks and stop serving the masked ids
    val deadIds = emb.where(col("vec_id") > half).limit(5)
      .select(col("vec_id"))
    Ivf.tombstoneVectors(spark, segs.last, deadIds, "vec_id")
    val dead = deadIds.collect().map(_.getLong(0)).toSet
    val masked = serve()
    assert(masked.forall { case (_, nid, _) => !dead.contains(nid) },
      "a tombstoned id served through the fast path - the fallback " +
        "did not trigger")
    val n = Ivf.readSegmentsServing(spark, segs, "vec_id", model).count()
    assert(n == emb.count() - dead.size,
      s"masked serve row count drifted: $n")
  }

  test("sparse segments serve == physically merged serve (with masks)") {
    val base = tmp("segsp")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val ma = base.resolve("ma").toString
    val half = 8L
    val decoys = emb.where(col("vec_id") < 2)
      .select((col("vec_id") + 90000000L).as("vec_id"), col("embedding"))
    val pa = Sparse.sparsify(emb.where(col("vec_id") <= half),
      "embedding", "vec_id")
    val pb = Sparse.sparsify(
      emb.where(col("vec_id") > half).unionByName(decoys),
      "embedding", "vec_id")
    Sparse.writeIndex(pa, a)
    Sparse.writeIndex(pb, b)
    // merged twin: one layout holding the union, same docs tombstoned
    Sparse.writeIndex(pa.unionByName(pb), ma)
    val dead = decoys.select(col("vec_id").as("doc"))
    Sparse.tombstoneDocs(spark, b, dead)
    Sparse.tombstoneDocs(spark, ma, dead)
    val q = Sparse.sparsify(emb.where(col("vec_id") < 3),
      "embedding", "vec_id")
    val seg = Sparse.searchSegments(spark, Seq(a, b), q, k = 5)
    val one = Sparse.searchIndex(spark, ma, q, k = 5)
    assert(rset(seg, "qid", "nid", "score", "rk") ==
      rset(one, "qid", "nid", "score", "rk"))
    assert(seg.count() > 0)
  }

  test("sparse absent/data-less roots are empty segments") {
    val base = tmp("segsp2")
    val a = base.resolve("a").toString
    Sparse.writeIndex(Sparse.sparsify(emb, "embedding", "vec_id"), a)
    val q = Sparse.sparsify(emb.where(col("vec_id") < 2),
      "embedding", "vec_id")
    val seg = Sparse.searchSegments(spark,
      Seq(a, base.resolve("missing").toString), q, k = 5)
    val one = Sparse.searchIndex(spark, a, q, k = 5)
    assert(rset(seg, "qid", "nid", "score", "rk") ==
      rset(one, "qid", "nid", "score", "rk"))
  }

  test("bm25 segments serve == single union build (global stats)") {
    val base = tmp("segbm")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val one = base.resolve("one").toString
    val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    Bm25.writeIndex(spark, docs.where(col("doc_id") <= half),
      "text", "doc_id", a)
    Bm25.writeIndex(spark, docs.where(col("doc_id") > half),
      "text", "doc_id", b)
    Bm25.writeIndex(spark, docs, "text", "doc_id", one)
    val qs = Seq(0L -> "hash join", 1L -> "fast table scan")
    val seg = Bm25.searchSegments(spark, Seq(a, b), qs, k = 5)
    val sgl = Bm25.searchIndex(spark, one, qs, k = 5)
    assert(rset(seg, "qid", "doc", "score_fp", "rk") ==
      rset(sgl, "qid", "doc", "score_fp", "rk"))
    assert(seg.count() > 0)
  }

  test("bm25 per-segment masks == single-layout masked serve " +
    "(Lucene stats model across segments)") {
    val base = tmp("segbm2")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val one = base.resolve("one").toString
    val half = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    Bm25.writeIndex(spark, docs.where(col("doc_id") <= half),
      "text", "doc_id", a)
    Bm25.writeIndex(spark, docs.where(col("doc_id") > half),
      "text", "doc_id", b)
    Bm25.writeIndex(spark, docs, "text", "doc_id", one)
    // tombstone some surviving docs on the segment that holds them;
    // masked docs keep their N/df/avgdl mass in BOTH scenarios, so
    // scores must match exactly
    val dead = docs.where(col("doc_id") % 7 === 0 &&
      col("doc_id") <= half).select(col("doc_id").as("doc"))
    Bm25.tombstoneDocs(spark, a, dead)
    Bm25.tombstoneDocs(spark, one, dead)
    val qs = Seq(0L -> "hash join", 1L -> "fast table scan")
    val seg = Bm25.searchSegments(spark, Seq(a, b), qs, k = 5)
    val sgl = Bm25.searchIndex(spark, one, qs, k = 5)
    assert(rset(seg, "qid", "doc", "score_fp", "rk") ==
      rset(sgl, "qid", "doc", "score_fp", "rk"))
  }

  test("ivf segments serving read == merged layout serving read") {
    val base = tmp("segiv")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Int8, b)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    val union = Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", model)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    Ivf.mergeInto(spark, a, b)
    val merged = Ivf.readIndexServing(spark, a, "vec_id")
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(union == merged && union.nonEmpty)
  }

  test("multivec segments serve == physically merged serve") {
    val base = tmp("segmv")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val ma = base.resolve("ma").toString
    val mb = base.resolve("mb").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
    val lo = docVecs.where(col("doc") <= mid)
    val hi = docVecs.where(col("doc") > mid)
    MultiVector.writeIndex(spark, lo, model, a)
    MultiVector.writeIndex(spark, hi, model, b)
    MultiVector.writeIndex(spark, lo, model, ma)
    MultiVector.writeIndex(spark, hi, model, mb)
    MultiVector.mergeInto(spark, ma, mb)
    val seg = MultiVector.searchSegments(spark, Seq(a, b), queryVecs,
      model, k = 4, nprobe = 8)
    val one = MultiVector.searchIndex(spark, ma, queryVecs,
      model, k = 4, nprobe = 8)
    assert(rset(seg, "qid", "doc", "score", "rk") ==
      rset(one, "qid", "doc", "score", "rk"))
    assert(seg.count() > 0)
  }

  test("multivec segments serve recovers a mid-swap-parked segment " +
    "instead of silently dropping its corpus") {
    val base = tmp("segmvpark")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
    MultiVector.writeIndex(spark, docVecs.where(col("doc") <= mid), model, a)
    MultiVector.writeIndex(spark, docVecs.where(col("doc") > mid), model, b)
    val healthy = MultiVector.searchSegments(spark, Seq(a, b), queryVecs,
      model, k = 4, nprobe = 8)
    val want = rset(healthy, "qid", "doc", "score", "rk")
    // crash mid-swap: segment b's ivf side parked at __old, live gone
    val ip = new org.apache.hadoop.fs.Path(s"$b/ivf")
    val fs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(ip, new org.apache.hadoop.fs.Path(s"$b/ivf__old")))
    val served = MultiVector.searchSegments(spark, Seq(a, b), queryVecs,
      model, k = 4, nprobe = 8)
    assert(rset(served, "qid", "doc", "score", "rk") == want &&
      want.nonEmpty,
      "a parked segment must be recovered and served, not read as absent")
  }

  test("ivf segments serve refuses a schema-diverged segment loudly") {
    val base = tmp("segivschema")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    // b holds FLOAT vectors — forcing a's codes schema onto it would
    // null-fill silently; the footer check must refuse instead
    Ivf.writeIndex(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), b)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    val e = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", model)
    }
    assert(e.getMessage.contains("ONE layout schema"))
  }

  test("ivf segments serve refuses a foreign quantizer") {
    val base = tmp("segiv2")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val m1 = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val m2 = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 1)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", m1), "embedding",
      Ivf.Codec.Int8, a)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", m2), "embedding",
      Ivf.Codec.Int8, b)
    Ivf.saveModel(spark, m1, Ivf.modelPath(a))
    Ivf.saveModel(spark, m2, Ivf.modelPath(b))
    val e = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", m1)
    }
    assert(e.getMessage.contains("DIFFERENT coarse quantizer"))
    // layouts saved before the digest sidecar are checked by their
    // parquet: a still serves, b is still refused
    val fs = new org.apache.hadoop.fs.Path(a)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(a, b).foreach(p => assert(fs.delete(
      new org.apache.hadoop.fs.Path(Ivf.modelPath(p), "_digest"), false)))
    assert(Ivf.readSegmentsServing(spark, Seq(a), "vec_id", m1).count() ==
      emb.count())
    val e2 = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", m1)
    }
    assert(e2.getMessage.contains("DIFFERENT coarse quantizer") &&
      e2.getMessage.contains(b))
  }

  test("ivf segments serve requires a model witness per segment") {
    val base = tmp("segiv3")
    val a = base.resolve("a").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, a)
    val e = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a), "vec_id", model)
    }
    assert(e.getMessage.contains("_model"))
  }

  test("ivf segments serve refuses an int8/PQ sidecar mix: same column " +
    "names, mutually meaningless codes bytes") {
    val base = tmp("segivpq")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val pq = Pq.train(emb, "embedding", "vec_id", m = 8, ksub = 16,
      iters = 2)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    // b is PQ-coded: identical column NAMES (codes: binary) and the
    // same coarse-quantizer witness — only the _pq sidecar betrays it
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Pq(pq), b,
        model = Some(model))
    val e = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", model)
    }
    assert(e.getMessage.contains("_pq"))
  }

  test("ivf segments serve refuses an int8/BQ codec mix: identical " +
    "metadata, only the _codec stamp differs") {
    val base = tmp("segivbq")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), "embedding", Ivf.Codec.Int8, a)
    // b is sign-bit coded: same codes: binary footer, same witness,
    // no codebook sidecar on either — only the codec stamp differs
    Ivf.writeIndexCodes(Ivf.assign(emb.where(col("vec_id") > half),
      "embedding", model), "embedding", Ivf.Codec.Bq, b)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    val e = intercept[IllegalArgumentException] {
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", model)
    }
    assert(e.getMessage.contains("ENCODING"))
    // and the merge refuses the same mix
    val e2 = intercept[IllegalArgumentException] {
      Ivf.mergeInto(spark, a, b)
    }
    assert(e2.getMessage.contains("ENCODING"))
  }

  test("a cross-codec append refuses instead of interleaving garbage bytes") {
    val base = tmp("segivxc")
    val a = base.resolve("a").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, a)
    // a Codec.Bq append onto the int8 layout: both write codes: binary —
    // before the stamp this interleaved silently
    val e = intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(emb.where(col("vec_id") < 5), "embedding",
        Ivf.Codec.Bq, model, a)
    }
    assert(e.getMessage.contains("int8"))
    // the marker survives a compaction swap (hidden-dir carry-over),
    // so the guard outlives maintenance
    Ivf.compactIndex(spark, a)
    val e2 = intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(emb.where(col("vec_id") < 5), "embedding",
        Ivf.Codec.Bq, model, a)
    }
    assert(e2.getMessage.contains("int8"))
    // the matching append still works
    Ivf.appendToIndexCodes(
      emb.where(col("vec_id") < 5)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")),
      "embedding", Ivf.Codec.Int8, model, a)
    // an UNMARKED non-empty codes layout (pre-marker or foreign)
    // refuses ANY append rather than guessing — stamping the
    // appender's codec onto unknown bytes would corrupt the layout
    // AND mislabel it permanently
    val mp = new org.apache.hadoop.fs.Path(Ivf.codecPath(a))
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(mp, true)
    val e3 = intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(emb.where(col("vec_id") < 5), "embedding",
        Ivf.Codec.Int8, model, a)
    }
    assert(e3.getMessage.contains("NO _codec marker"))
  }

  test("int8 and BQ appends verify the layout's persisted quantizer") {
    val base = tmp("segivfq")
    val ma = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val mb = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 1)
    val inc = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    Seq(Ivf.Codec.Int8, Ivf.Codec.Bq).foreach { codec =>
      val p = base.resolve(codec.marker).toString
      Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", ma), "embedding",
        codec, p, model = Some(ma))
      // codes assigned under a foreign quantizer would serve with
      // silently skewed probes: refused before any byte lands
      val e = intercept[IllegalArgumentException] {
        Ivf.appendToIndexCodes(inc, "embedding", codec, mb, p)
      }
      assert(e.getMessage.contains("DIFFERENT coarse quantizer"))
      assert(spark.read.parquet(p).count() == emb.count())
      // the layout's own quantizer still appends
      Ivf.appendToIndexCodes(inc, "embedding", codec, ma, p)
      assert(spark.read.parquet(p).count() == emb.count() + inc.count())
    }
  }

  test("multivec segments serve refuses a foreign quantizer") {
    val base = tmp("segmvfq")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val m1 = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val m2 = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 1)
    val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
    MultiVector.writeIndex(spark, docVecs.where(col("doc") <= mid), m1, a)
    // b was assigned under a DIFFERENT quantizer — before the witness,
    // this served with silently skewed candidate recall
    MultiVector.writeIndex(spark, docVecs.where(col("doc") > mid), m2, b)
    val e = intercept[IllegalArgumentException] {
      MultiVector.searchSegments(spark, Seq(a, b), queryVecs, m1,
        k = 4, nprobe = 8)
    }
    assert(e.getMessage.contains("DIFFERENT coarse quantizer"))
  }

  test("multivec segments serve requires a model witness per segment") {
    val base = tmp("segmvnw")
    val a = base.resolve("a").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    MultiVector.writeIndex(spark, docVecs, model, a)
    // simulate a pre-witness layout: strip the sidecar
    val mp = new org.apache.hadoop.fs.Path(MultiVector.modelPath(a))
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(mp, true)
    val e = intercept[IllegalArgumentException] {
      MultiVector.searchSegments(spark, Seq(a), queryVecs, model,
        k = 4, nprobe = 8)
    }
    assert(e.getMessage.contains("_model"))
  }

  test("multivec merge refuses a foreign quantizer") {
    val base = tmp("segmvmg")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val m1 = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val m2 = Ivf.train(emb, "embedding", "vec_id", nlist = 4, iters = 1)
    val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
    MultiVector.writeIndex(spark, docVecs.where(col("doc") <= mid), m1, a)
    MultiVector.writeIndex(spark, docVecs.where(col("doc") > mid), m2, b)
    val e = intercept[IllegalArgumentException] {
      MultiVector.mergeInto(spark, a, b)
    }
    assert(e.getMessage.contains("DIFFERENT coarse quantizer"))
    // and a witness-less pair refuses too (the trust contract is gone)
    val mp = new org.apache.hadoop.fs.Path(MultiVector.modelPath(b))
    mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(mp, true)
    val e2 = intercept[IllegalArgumentException] {
      MultiVector.mergeInto(spark, a, b)
    }
    assert(e2.getMessage.contains("_model"))
  }

  test("ivf merge consumes a FULLY-tombstoned src instead of crashing") {
    // the folds inside mergeInto can empty src outright (rewrite
    // deletes a zero-row layout); the merge must then consume the
    // remnant wholesale, not die reading the deleted path's schema
    val base = tmp("segdeadsrc")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val keep = emb.where(col("vec_id") < 100)
    val dead = emb.where(col("vec_id") >= 100 && col("vec_id") < 110)
    Ivf.writeIndexCodes(Ivf.assign(keep, "embedding", model), "embedding",
      Ivf.Codec.Int8, a)
    Ivf.saveModel(spark, model, Ivf.modelPath(a))
    Ivf.writeIndexCodes(Ivf.assign(dead, "embedding", model), "embedding",
      Ivf.Codec.Int8, b)
    Ivf.saveModel(spark, model, Ivf.modelPath(b))
    Ivf.tombstoneVectors(spark, b, dead.select(col("vec_id")), "vec_id")
    val before = rset(Ivf.searchCodes(
      Ivf.readSegmentsServing(spark, Seq(a, b), "vec_id", model), emb,
      emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
      k = 5, nprobe = 4), "qid", "nid", "sim", "rk")
    Ivf.mergeInto(spark, a, b, "vec_id") // must not throw
    val fs = new org.apache.hadoop.fs.Path(b)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(b)),
      "the dead src must be consumed wholesale")
    val after = rset(Ivf.searchCodes(
      Ivf.readSegmentsServing(spark, Seq(a), "vec_id", model), emb,
      emb.where(col("vec_id") < 3), "embedding", "vec_id", Ivf.Codec.Int8,
        model,
      k = 5, nprobe = 4), "qid", "nid", "sim", "rk")
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("multivec merge survives a FULLY-tombstoned src pair") {
    val base = tmp("segdeadmv")
    val a = base.resolve("a").toString
    val b = base.resolve("b").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val model = Ivf.train(docVecs, "vec", "doc", nlist = 8, iters = 2)
    MultiVector.writeIndex(spark, docVecs.where(col("doc") < 100), model, a)
    MultiVector.writeIndex(spark,
      docVecs.where(col("doc") >= 100 && col("doc") < 110), model, b)
    MultiVector.tombstoneDocs(spark, b,
      docVecs.where(col("doc") >= 100 && col("doc") < 110)
        .select(col("doc")).distinct())
    val q = docVecs.where(col("doc") < 2)
      .select(col("doc").as("qid"), col("vec"))
    val before = rset(MultiVector.searchSegments(spark, Seq(a, b), q,
      model, k = 5, nprobe = 4), "qid", "doc", "score", "rk")
    MultiVector.mergeInto(spark, a, b) // must not throw
    val after = rset(MultiVector.searchIndex(spark, a, q, model,
      k = 5, nprobe = 4), "qid", "doc", "score", "rk")
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("multivec fast path (flat pruned-dirs relation) == per-segment " +
    "masked path on the same layout") {
    // the r17 single-relation fast path triggers on >1 tombstone-free
    // roots (any naming — the pruned partition dirs are enumerated
    // driver-side, no basePath needed); a live tombstone sidecar
    // drops back to the per-segment tagged-union path. Pinning both
    // on ONE layout: a no-op tombstone (an id the corpus never held)
    // flips the path WITHOUT changing the correct answer, so the two
    // paths must return identical rows.
    val base = tmp("segmvfp")
    val a = base.resolve("sa").toString
    val b = base.resolve("sb").toString
    val docVecs = emb.select((col("vec_id") / 4).cast("long").as("doc"),
      col("embedding").as("vec"))
    val queryVecs = emb.where(col("vec_id") < 4)
      .select((col("vec_id") / 2).cast("long").as("qid"),
        col("embedding").as("vec"))
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val mid = docVecs.agg(max(col("doc"))).head().getLong(0) / 2
    MultiVector.writeIndex(spark, docVecs.where(col("doc") <= mid), model, a)
    MultiVector.writeIndex(spark, docVecs.where(col("doc") > mid), model, b)
    def serve() = rset(MultiVector.searchSegments(spark, Seq(a, b),
      queryVecs, model, k = 4, nprobe = 8), "qid", "doc", "score", "rk")
    val fast = serve() // tombstone-free: the single-relation path
    // an id far outside the corpus: mask present (slow path), masks
    // nothing — the answer is unchanged by construction
    import spark.implicits._
    MultiVector.tombstoneDocs(spark, a, Seq(900000001L).toDF("doc"))
    val slow = serve()
    assert(fast == slow)
    assert(fast.nonEmpty)
  }
}
