package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Payload-partitioned layout contracts: the secondary partition key
  * turns an equality payload filter into DIRECTORY pruning
  * (PartitionFilters in the scan node — no file of a non-matching
  * label dir is opened), and serving results are unchanged vs the
  * row-filtered plain layout.
  */
class PayloadPartitionSpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet")
    .select(col("vec_id"), col("embedding"), col("label"))

  test("label filter lands in PartitionFilters on the partitioned layout") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("paypart")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), idx,
      payloadCols = Seq("label"))
    val plan = Ivf.readIndexServing(spark, idx, "vec_id")
      .where(col("label") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*label""".r.findFirstIn(plan).isDefined,
      s"label filter must prune partitions, got plan:\n$plan")
  }

  test("maintenance ops refuse a payload-partitioned layout loudly") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("paypart3")
      .resolve("index").toString
    Ivf.writeIndex(Ivf.assign(emb.where(col("vec_id") < 100),
      "embedding", model), idx, payloadCols = Seq("label"))
    // an append would mix partition depths (every later read dies on
    // CONFLICTING_DIRECTORY_STRUCTURES); a compact would silently
    // flatten the payload dirs — both must refuse instead
    val inc = Ivf.assign(emb.where(col("vec_id") >= 100),
      "embedding", model)
    intercept[IllegalArgumentException] {
      Ivf.appendToIndex(inc.drop("label"), "embedding", model, idx)
    }
    intercept[IllegalArgumentException] { Ivf.compactIndex(spark, idx) }
    intercept[IllegalArgumentException] {
      Ivf.deleteVectors(spark, idx, emb.limit(1).select("vec_id"), "vec_id")
    }
  }

  test("tombstone → serve → fold → serve is invariant on a payload-" +
    "partitioned layout, and the fold preserves the directory pruning") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val idx = java.nio.file.Files.createTempDirectory("paypart4")
      .resolve("index").toString
    // decoys that pass the payload filter and would own rank-1 slots
    val decoys = emb.where(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        lit(3).as("label"))
    Ivf.writeIndex(Ivf.assign(emb.unionByName(decoys), "embedding", model),
      idx, payloadCols = Seq("label"))
    Ivf.tombstoneVectors(spark, idx, decoys.select(col("vec_id")), "vec_id")
    def serve() =
      Ivf.searchFiltered(Ivf.readIndexServing(spark, idx, "vec_id"),
          emb.where(col("vec_id") < 5), "embedding", "vec_id", model,
          k = 4, filter = col("label") === 3, nprobe0 = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val masked = serve()
    assert(masked.nonEmpty && masked.forall(_._2 < 100000L),
      "tombstoned decoys must not serve through the payload layout")
    Ivf.foldTombstones(spark, idx, "vec_id")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Path.of(graft.core.Tombstones.path(idx))),
      "the fold must retire the sidecar")
    assert(serve() == masked, "fold must not change served results")
    // the rebuild kept the SECONDARY partition dirs: the payload
    // filter still prunes at the directory level
    val plan = Ivf.readIndexServing(spark, idx, "vec_id")
      .where(col("label") === 3)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*label""".r.findFirstIn(plan).isDefined,
      s"fold flattened the payload dirs, plan:\n$plan")
  }

  test("partitioned and plain layouts serve identical filtered results") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("paypart2")
    val part = base.resolve("part").toString
    val plain = base.resolve("plain").toString
    val assigned = Ivf.assign(emb, "embedding", model)
    Ivf.writeIndex(assigned, part, payloadCols = Seq("label"))
    Ivf.writeIndex(assigned, plain)
    val qs = emb.where(col("vec_id") < 5)
    def run(path: String) =
      Ivf.searchFiltered(Ivf.readIndexServing(spark, path, "vec_id"),
          qs, "embedding", "vec_id", model, k = 4,
          filter = col("label") === 3, nprobe0 = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = run(part)
    assert(a == run(plain) && a.nonEmpty)
  }

  test("appendToIndexPayload grows the layout at full depth: grown == " +
    "one-shot, pruning intact, refusals on misuse") {
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("payapp")
    val grown = base.resolve("grown").toString
    val oneShot = base.resolve("oneshot").toString
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    Ivf.writeIndex(Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model), grown, payloadCols = Seq("label"))
    Ivf.appendToIndexPayload(emb.where(col("vec_id") > half),
      "embedding", model, grown)
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), oneShot,
      payloadCols = Seq("label"))
    val qs = emb.where(col("vec_id") < 5)
    def run(path: String) =
      Ivf.searchFiltered(Ivf.readIndexServing(spark, path, "vec_id"),
          qs, "embedding", "vec_id", model, k = 4,
          filter = col("label") === 3, nprobe0 = 2)
        .select("qid", "nid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val g = run(grown)
    assert(g == run(oneShot) && g.nonEmpty)
    // the grown layout still prunes by label DIRECTORY
    val plan = Ivf.readIndexServing(spark, grown, "vec_id")
      .where(col("label") === 3)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*label""".r.findFirstIn(plan)
      .isDefined, s"append flattened the payload dirs:\n$plan")
    // refusals: plain append on a payload layout, payload append on a
    // plain layout, and an increment missing the payload column
    intercept[IllegalArgumentException] {
      Ivf.appendToIndex(emb, "embedding", model, grown)
    }
    val plain = base.resolve("plain").toString
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), plain)
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexPayload(emb, "embedding", model, plain)
    }
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexPayload(emb.drop("label"), "embedding", model, grown)
    }
    // the float append must refuse a QUANTIZED payload layout — raw
    // float postings appended into codes: binary would mix schemas
    // and serve null codes silently
    val int8 = base.resolve("int8").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, int8, payloadCols = Seq("label"))
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexPayload(emb, "embedding", model, int8)
    }
  }

  test("appendToIndexPayloadQuantized encodes through the layout's own " +
    "codec: grown == one-shot on int8/bq/pq, refusals on misuse") {
    // (one append path for every codes layout now: appendToIndexCodes
    // with the codec the layout itself persisted, Ivf.Codec.of)
    val model = Ivf.train(emb, "embedding", "vec_id", nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("payappq")
    val half = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val first = Ivf.assign(emb.where(col("vec_id") <= half),
      "embedding", model)
    val rest = emb.where(col("vec_id") > half)
    def contents(path: String) = spark.read.parquet(path)
      .select(col("vec_id"), col("cluster"), col("label"),
        hex(col("codes")).as("hx"))
      .collect().map(_.toSeq).toSet
    // INT8: grown layout serves identically to a one-shot build
    val grown8 = base.resolve("grown8").toString
    val one8 = base.resolve("one8").toString
    Ivf.writeIndexCodes(first, "embedding", Ivf.Codec.Int8, grown8,
      payloadCols = Seq("label"))
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.of(spark, grown8),
      model, grown8)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, one8, payloadCols = Seq("label"))
    assert(contents(grown8) == contents(one8) && contents(grown8).nonEmpty)
    val qs = emb.where(col("vec_id") < 5)
    val g = Ivf.searchCodesFiltered(Ivf.readIndex(spark, grown8), emb, qs,
        "embedding", "vec_id", Ivf.Codec.Int8, model, k = 4,
        filter = col("label") === 3, nprobe0 = 8)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val o = Ivf.searchCodesFiltered(Ivf.readIndex(spark, one8), emb, qs,
        "embedding", "vec_id", Ivf.Codec.Int8, model, k = 4,
        filter = col("label") === 3, nprobe0 = 8)
      .select("qid", "nid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(g == o && g.nonEmpty)
    // ... and the payload dirs still prune after the append
    val plan = Ivf.readIndex(spark, grown8).where(col("label") === 3)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*label""".r.findFirstIn(plan)
      .isDefined, s"quantized append flattened the payload dirs:\n$plan")
    // BQ: training-free sign bits — grown layout is row-identical
    val grownB = base.resolve("grownB").toString
    val oneB = base.resolve("oneB").toString
    Ivf.writeIndexCodes(first, "embedding", Ivf.Codec.Bq, grownB,
      payloadCols = Seq("label"))
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.of(spark, grownB),
      model, grownB)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Bq, oneB, payloadCols = Seq("label"))
    assert(contents(grownB) == contents(oneB))
    // PQ: codebooks loaded from the layout's own persisted pair
    val pq = Pq.train(emb, "embedding", "vec_id", m = 4, ksub = 8,
      iters = 2)
    val grownP = base.resolve("grownP").toString
    val oneP = base.resolve("oneP").toString
    Ivf.writeIndexCodes(first, "embedding", Ivf.Codec.Pq(pq), grownP,
      payloadCols = Seq("label"), model = Some(model))
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.of(spark, grownP),
      model, grownP)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Pq(pq), oneP, payloadCols = Seq("label"), model = Some(model))
    assert(contents(grownP) == contents(oneP))
    // PQR: residual codes — the append encodes each residual against
    // the layout's own coarse quantizer and codebooks
    val pqr = Ivf.trainPqResidual(emb, "embedding", "vec_id", model, m = 4,
      ksub = 8, iters = 2)
    val grownR = base.resolve("grownR").toString
    val oneR = base.resolve("oneR").toString
    Ivf.writeIndexCodes(first, "embedding", Ivf.Codec.PqResidual(pqr),
      grownR, payloadCols = Seq("label"), model = Some(model))
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.of(spark, grownR),
      model, grownR)
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.PqResidual(pqr), oneR, payloadCols = Seq("label"),
      model = Some(model))
    assert(contents(grownR) == contents(oneR))
    // refusals: a FLOAT payload layout (no codec) and a missing
    // payload column
    val float = base.resolve("float").toString
    Ivf.writeIndex(Ivf.assign(emb, "embedding", model), float,
      payloadCols = Seq("label"))
    intercept[RuntimeException] {
      Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.Int8, model, float)
    }
    val plain8 = base.resolve("plain8").toString
    Ivf.writeIndexCodes(Ivf.assign(emb, "embedding", model), "embedding",
      Ivf.Codec.Int8, plain8)
    // a PLAIN codes layout takes the same append at its own plain
    // depth (the mixed-depth hazard the old payload-only refusal
    // guarded cannot arise): no payload dir appears, every row reads
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.Int8, model, plain8)
    assert(spark.read.parquet(plain8).count() == emb.count() + rest.count())
    assert(new java.io.File(plain8).listFiles()
      .filter(_.getName.startsWith("cluster="))
      .forall(!_.listFiles().exists(_.isDirectory)))
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(rest.drop("label"), "embedding", Ivf.Codec.Int8,
        model, grown8)
    }
    // a foreign coarse quantizer must be refused by the persisted-
    // pair verification (the append already stamped _model on grown8)
    val other = Ivf.train(emb.where(col("vec_id") < 50), "embedding",
      "vec_id", nlist = 4, iters = 1)
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.Int8, other, grown8)
    }
    // ... and on a layout whose WRITER persisted the model
    // (writeIndexCodes' model param), the very FIRST append verifies
    // instead of trusting: the foreign quantizer is refused before
    // any prior append has stamped the pair — the first-contact
    // trust window the model-less writers used to leave open
    val fresh8 = base.resolve("fresh8").toString
    Ivf.writeIndexCodes(first, "embedding", Ivf.Codec.Int8, fresh8,
      payloadCols = Seq("label"), model = Some(model))
    intercept[IllegalArgumentException] {
      Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.Int8, other, fresh8)
    }
    // the layout's own model still appends fine, to the one-shot image
    Ivf.appendToIndexCodes(rest, "embedding", Ivf.Codec.Int8, model, fresh8)
    assert(contents(fresh8) == contents(one8))
  }
}
