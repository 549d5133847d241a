package graft.store

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Ports the reference vectordb fixtures (tests/test_vectordb.py:
  * 25-44, 68-105, 119-151): planted `ones` vector, normalization at
  * insert, dense ids, retrieval sim ≈ 1.0, delete count.
  */
class VectorStoreSpec extends SparkTestBase {

  private val dim = 16

  private def freshStore() = new VectorStore(spark,
    java.nio.file.Files.createTempDirectory("vs").toString + "/store", dim)

  private def fixtureRows() = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 10).map(i =>
      (s"vector_$i", s"text_$i", Array.fill(dim)(rnd.nextFloat()))) :+
      (("ones", "ones_text", Array.fill(dim)(1.0f)))
    spark.createDataset(rows).toDF("source", "text", "vector")
  }

  test("insert normalizes: stored 'ones' row ≈ ones/sqrt(dim)") {
    val store = freshStore()
    store.add(fixtureRows())
    import spark.implicits._
    val ones = store.df.where($"source" === "ones")
      .select($"vector").as[Array[Float]].head()
    val expected = 1.0f / math.sqrt(dim).toFloat
    ones.foreach(x => assert(math.abs(x - expected) < 1e-6))
  }

  test("ids are dense 1..11; append continues the sequence") {
    val store = freshStore()
    store.add(fixtureRows())
    import spark.implicits._
    val ids = store.df.select($"id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 11L))
    store.add(fixtureRows().limit(2))
    val ids2 = store.df.select($"id").as[Long].collect().sorted
    assert(ids2.toSeq == (1L to 13L))
  }

  test("retrieve(ones_normalized, k=3): top hit is 'ones' with sim ≈ 1.0") {
    val store = freshStore()
    store.add(fixtureRows())
    val results = store.retrieve(Array.fill(dim)(1.0f), topk = 3).collect()
    assert(results.length == 3)
    val (sim, source, text) = results.head
    assert(source == "ones" && text == "ones_text")
    assert(math.abs(sim - 1.0) < 1e-6)
    // descending sims
    assert(results.map(_._1).toSeq == results.map(_._1).sorted.reverse.toSeq)
  }

  test("deleteById removes exactly one row (count 11 → 10)") {
    val store = freshStore()
    store.add(fixtureRows())
    store.deleteById(1L)
    assert(store.count() == 10)
    import spark.implicits._
    assert(store.df.where($"id" === 1L).count() == 0)
  }

  test("getById returns the row; errors when absent") {
    val store = freshStore()
    store.add(fixtureRows())
    assert(store.getById(2L).id == 2L)
    intercept[IllegalArgumentException](store.getById(99L))
  }

  test("add rejects vectors shorter than dim") {
    import spark.implicits._
    val store = freshStore()
    val bad = spark.createDataset(Seq(("s", "t", Array.fill(dim - 1)(1.0f))))
      .toDF("source", "text", "vector")
    intercept[Exception](store.add(bad))
  }

  test("dim truncation: longer vectors are cut to dim then normalized") {
    import spark.implicits._
    val store = freshStore()
    val long = spark.createDataset(Seq(("s", "t", Array.fill(dim * 2)(1.0f))))
      .toDF("source", "text", "vector")
    store.add(long)
    val v = store.df.select($"vector").as[Array[Float]].head()
    assert(v.length == dim)
  }

  test("a store parked mid-rewrite is recovered; a retried deleteById converges") {
    val store = freshStore()
    store.add(fixtureRows())
    val live = new org.apache.hadoop.fs.Path(store.path)
    val parked = new org.apache.hadoop.fs.Path(store.path + "__old")
    val tmp = new org.apache.hadoop.fs.Path(store.path + ".tmp")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // a deleteById(1) that crashed between park and promote: its
    // rewrite sits in .tmp and the live store is parked
    def crashDelete(): Unit = {
      store.df.where($"id" =!= 1L).write.parquet(tmp.toString)
      assert(fs.rename(live, parked))
    }
    crashDelete()
    assert(store.count() == 11)
    assert(!fs.exists(parked))
    assert(store.retrieve(Array.fill(dim)(1.0f), topk = 1).collect().head._2 == "ones")
    fs.delete(tmp, true)
    crashDelete()
    store.deleteById(1L)
    store.deleteById(1L)
    assert(store.count() == 10)
    assert(store.df.where($"id" === 1L).count() == 0)
    assert(!fs.exists(parked) && !fs.exists(tmp))
  }
}
