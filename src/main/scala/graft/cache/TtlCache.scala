package graft.cache

import graft.core.Schemas.CacheEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** TTL key-value cache as a DataFrame (reference cache.py:45-183).
  *
  * The reference's SQLite `cache(key PK, value lz4, stamp)` becomes a
  * keyed DataFrame; lz4 is a storage codec, not semantics (Parquet
  * compresses). TTL purge = a filter rewrite run at open
  * (cache.py:45-51: rows older than 1 month are dropped — the
  * docstring's "24h" is wrong, code wins).
  *
  * `memoize` is the engine's version of the reference's
  * `enable_cache`-wrapped readers (reader.py:157-175): one left join
  * of the keys against the table marks hits, only misses run the
  * fetch, and one pinned frame is both the result and the rows
  * appended to the cache — one table scan and O(misses) fetch work
  * per call, set-oriented instead of per-call.
  */
final class TtlCache(val spark: SparkSession, ttlDays: Int = 30) {
  import spark.implicits._

  private var table: DataFrame = spark.emptyDataset[CacheEntry].toDF()
  private var mutationsSinceCompact = 0
  // the live compact snapshot — released when the NEXT compact
  // supersedes it ([[graft.memory.MessageLog]]'s hygiene: without
  // this a long-lived cache leaks one cache-sized block set per 32
  // mutations). Only the internal snapshot is released; per-call
  // pins (putAll/memoize batches, bounded by their batch size) ride
  // until the session sweep, the returned-frame convention.
  private var compactPin: Option[DataFrame] = None

  def df: DataFrame = table

  /** Each put/delete/memoize deepens the lazy plan and adds its
    * frame's partitions; every 32 mutations pin the table with
    * partitions sized by bytes ([[graft.core.Pinned.compact]]), so
    * lookup cost stays flat over a long-lived cache instead of paying
    * one task per appended frame.
    */
  private def maybeCompact(): Unit = {
    mutationsSinceCompact += 1
    if (mutationsSinceCompact >= 32) {
      val fresh = graft.core.Pinned.compact(table)
      compactPin.foreach(graft.core.Pinned.release)
      compactPin = Some(fresh)
      table = fresh
      mutationsSinceCompact = 0
    }
  }

  def size(): Long = table.count()

  def put(key: String, value: String, stamp: Timestamp = now()): Unit = {
    val row = Seq(CacheEntry(key, value, stamp)).toDF()
    table = table.where($"key" =!= key).unionByName(row)
    maybeCompact()
  }

  /** Bulk upsert — one anti-join instead of a per-row [[put]] loop
    * (the dict-protocol assignment, set-oriented). `rows` needs
    * (key, value); last-wins against the existing table, stamped at
    * insert time like [[put]]. Eagerly pinned so later mutations of
    * `rows`' lineage can't drift the inserted values.
    */
  def putAll(rows: DataFrame): Unit = {
    val r = rows.select($"key", $"value", lit(now()).as("stamp"))
      .dropDuplicates("key")
      .localCheckpoint(true)
    table = table.join(r, Seq("key"), "left_anti").unionByName(r)
    maybeCompact()
  }

  def get(key: String): Option[String] =
    table.where($"key" === key).select($"value").as[String].collect().headOption

  def contains(key: String): Boolean = table.where($"key" === key).limit(1).count() > 0

  def delete(key: String): Unit = {
    table = table.where($"key" =!= key)
    maybeCompact()
  }

  def clear(): Unit = table = spark.emptyDataset[CacheEntry].toDF()

  /** P4: TTL purge rewrite (cache.py:45-51). */
  def purgeExpired(asOf: Timestamp = now()): Unit =
    table = table.where($"stamp" >= lit(asOf) - expr(s"INTERVAL $ttlDays DAYS"))

  /** Memoized fetch: one row per distinct key, hits from the table,
    * misses via `fetch`, and the misses appended to the cache. The
    * distinct keys are left-joined against the table once, carrying a
    * hit marker (a cached `null` value is still a hit); `fetch` runs
    * only where the marker is null, so once per miss. The joined rows
    * are MATERIALIZED eagerly (one localCheckpoint) and that one
    * pinned frame is both the returned `(key, value)` frame and the
    * source of the appended rows — leaving the fetch UDF in the lazy
    * plan would re-run it on every later read of either.
    */
  def memoize(keys: DataFrame, fetch: String => String): DataFrame = {
    val fetchUdf = udf(fetch)
    // Stamp with a driver-side literal INSIDE the checkpointed frame:
    // a lazy current_timestamp() added after the checkpoint would
    // re-evaluate to 'now' on every later read of `table`, so memoized
    // entries would drift forward and never expire via purgeExpired
    // (the reference stamps at insert time, cache.py:68-74).
    val looked = keys.select($"key").distinct()
      .join(table.select($"key", $"value", lit(true).as("hit")), Seq("key"), "left")
      .select($"key",
        when($"hit".isNull, fetchUdf($"key")).otherwise($"value").as("value"),
        lit(now()).as("stamp"), $"hit")
      .localCheckpoint(true)
    table = table.unionByName(looked.where($"hit".isNull).drop("hit"))
    maybeCompact()
    looked.select($"key", $"value")
  }

  def load(path: String): Unit = table = spark.read.parquet(path)
  def save(path: String): Unit =
    table.write.mode("overwrite").parquet(path)

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())
}
