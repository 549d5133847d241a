package graft.store

import graft.core.Schemas.VectorRow
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet-backed vector store — the engine's rebuild of the
  * reference's SQLite `vectors` table (reference vectordb.py:61-68).
  *
  * Contracts preserved:
  *  - insert L2-normalizes and truncates to `dim` components, erroring
  *    when the input is shorter (vectordb.py:81-94);
  *  - ids are dense, ascending, 1-based (SQLite AUTOINCREMENT);
  *  - `retrieve` returns `(sim, source, text)` triples, cosine
  *    descending (vectordb.py:190-214);
  *  - `ls`/`dump` projections (vectordb.py:216-279).
  *
  * Scale design: Parquet columnar storage replaces the reference's
  * lz4-blob rows (Parquet compresses; column pruning makes `as_array`'s
  * manual (id, vector) projection automatic). `retrieve` is
  * scan → codegen'd cosine kernel → `TakeOrderedAndProject` — a
  * per-partition top-k heap merged on the driver, no shuffle of
  * vectors, linear in executors. Dense-id assignment is the one
  * sequential contract: a `zipWithIndex` pass (single Spark job, no
  * shuffle) offsets by the current max id.
  */
final class VectorStore(val spark: SparkSession, val path: String,
                        val dim: Int = 256) {
  import spark.implicits._

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** The live store. Runs the [[graft.core.DirSwap]] recovery
    * preamble first: a crash inside a [[deleteById]] rewrite may have
    * left the store parked at `<path>__old` with no live directory.
    */
  def df: DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.core.DirSwap.recover(fs, p)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def count(): Long = df.count()

  /** Append rows of `(source, text, vector)`, normalizing + truncating
    * and assigning dense ids after the current max. Reads the max
    * through [[df]] first, so a parked store is recovered before
    * anything is appended (an append to a fresh live dir beside a
    * parked copy could never be healed).
    */
  def add(rows: DataFrame): Unit = {
    val maxId = df.agg(coalesce(max($"id"), lit(0L))).as[Long].head()
    val prepared = rows
      .withColumn("_dimOk", when(size($"vector") >= dim, lit(true))
        .otherwise(raise_error(concat(lit(s"vector shorter than dim=$dim: "), size($"vector")))))
      .drop("_dimOk")
      .withColumn("vector", truncateDim($"vector", dim))
      .withColumn("vector", l2NormalizeF($"vector"))
      .select($"source", $"text", $"vector")
    // dense-id contract: order-preserving zipWithIndex, offset by maxId
    val withIds = prepared.rdd.zipWithIndex().map { case (r, i) =>
      (maxId + i + 1, r.getString(0), r.getString(1), r.getSeq[Float](2))
    }
    spark.createDataFrame(withIds).toDF("id", "source", "text", "vector")
      .withColumn("vector", $"vector".cast(ArrayType(FloatType, containsNull = false)))
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Point lookup; errors when absent (reference vectordb.py:111-144). */
  def getById(id: Long): VectorRow = {
    val rows = df.where($"id" === id).as[VectorRow].collect()
    require(rows.nonEmpty, s"no vector with id=$id")
    rows.head
  }

  /** Anti-join rewrite of the store (reference vectordb.py:174-182). */
  def deleteById(ids: Long*): Unit = rewrite(df.where(!$"id".isin(ids: _*)))

  /** Write `newDf` beside the store, then swap it in with
    * [[graft.core.DirSwap.promote]]: a crash at any step leaves a
    * complete copy live or parked, which [[df]] recovers.
    */
  private def rewrite(newDf: DataFrame): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    newDf.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val p = new org.apache.hadoop.fs.Path(path)
    graft.core.DirSwap.promote(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, tmp)
  }

  /** Flagship exact cosine top-k (reference vectordb.py:190-214).
    * Stored vectors are unit-norm, so similarity = dot with the
    * normalized query. Result carries (sim, source, text) directly —
    * no back-join (SURVEY.md §2.3 J1).
    */
  def retrieve(query: Array[Float], topk: Int = 3): Dataset[(Double, String, String)] = {
    val qn = {
      var s = 0.0; query.foreach(x => s += x.toDouble * x.toDouble)
      val n = math.sqrt(s)
      query.map(x => (x / n).toFloat)
    }
    df.select(dotD($"vector", vecLit(qn)).as("sim"), $"source", $"text", $"id")
      .orderBy($"sim".desc, $"id".asc)
      .limit(topk)
      .select($"sim", $"source", $"text")
      .as[(Double, String, String)]
  }

  /** Human listing (reference vectordb.py:216-239). */
  def ls(shortenTo: Int = 70): DataFrame =
    df.select($"id", size($"vector").as("vector_len"), length($"text").as("text_len"),
      $"source", substring($"text", 1, shortenTo).as("text_preview"))
      .orderBy($"id")

  /** SCROLL — keyset pagination over the store (the vector-db scroll
    * API shape; the reference's `ls` lists everything, which stops
    * being an interface the moment the store outgrows a terminal):
    * one page of up to `limit` rows with id > `after`, id-ascending,
    * optionally restricted by a payload predicate. Cursor = the last
    * id of the previous page, so pages are stable under concurrent
    * APPENDS (new rows only ever land past the max id — the dense-id
    * contract) and every row surfaces exactly once across pages.
    * Keyset, not OFFSET: an offset page re-scans and re-sorts
    * everything before it; the id predicate prunes at the scan.
    */
  def scroll(after: Long, limit: Int,
             filter: Option[org.apache.spark.sql.Column] = None): DataFrame =
    df.where($"id" > after && filter.getOrElse(lit(true)))
      .orderBy($"id")
      .limit(limit)
      .select($"id", $"source", $"text")

  /** JSONL dump (reference vectordb.py:258-279, cli.py:114-133). */
  def dump(outPath: String, includeVector: Boolean = false,
           ids: Seq[Long] = Nil): Unit = {
    val base = if (ids.isEmpty) df else df.where($"id".isin(ids: _*))
    val proj = if (includeVector) base.select($"id", $"source", $"text", $"vector")
      else base.select($"id", $"source", $"text")
    proj.orderBy($"id").coalesce(1).write.mode(SaveMode.Overwrite).json(outPath)
  }
}
