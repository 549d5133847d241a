package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** File-stream staging for the streamed ingests ([[StagedIngest]]):
  * split a parquet table into `n` id-range parquet files in a fresh
  * temp dir, mtime-ordered so a file stream with
  * `maxFilesPerTrigger=1` replays them as id-ordered microbatches
  * ([[stageWithKey]]) — so the ORACLED streaming rows exercise the
  * multi-batch probe/append path, not just the first-batch build
  * branch — or copy it whole for the single-batch ingests
  * ([[copy]]).
  */
private[streaming] object Staging {

  /** STABLE run key for [[BatchLedger.openRun]]: identifies this
    * ingest increment by pipeline `kind`, source path, id column,
    * batching, and a content fingerprint (count, min(id), max(id) —
    * one aggregation over the id column; honest cost note: Spark
    * does not push min/max to parquet footers by default, so this is
    * a single-column scan of a source the ingest is about to stage
    * and read IN FULL anyway — marginal, not metadata-free). A
    * crashed run's rerun of the same source derives the same key, so
    * the ledger's completed markers heal it instead of
    * double-appending; a different increment (new content ⇒ new
    * fingerprint) keys a fresh namespace. `kind` prefixes the key
    * (no '-' allowed) and scopes [[BatchLedger.pruneOtherRuns]]'s GC
    * to this pipeline — several pipelines share one index's ledger.
    * See openRun's doc for the same-ids-changed-content boundary.
    */
  def runKey(spark: SparkSession, src: String, idCol: String,
             nBatches: Int, kind: String = "run"): String = {
    require(!kind.contains('-'), "kind must not contain '-'")
    val r = spark.read.parquet(src).agg(count(lit(1)),
      min(col(idCol).cast("long")), max(col(idCol).cast("long"))).head()
    keyOf(kind, src, idCol, nBatches, r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))
  }

  /** The key derivation shared by [[runKey]] and [[stageWithKey]] —
    * ONE definition so both stagings derive byte-identical keys (a
    * drifted key would orphan every completed marker of a crashed
    * run).
    */
  private def keyOf(kind: String, src: String, idCol: String,
                    nBatches: Int, cnt: Long, lo: Option[Long],
                    hi: Option[Long]): String = {
    // a non-numeric id column casts to null min/max: fall back to a
    // count-only fingerprint (still keyed by path + batching) rather
    // than NPE at run open
    val (l, h0) =
      if (cnt == 0L || lo.isEmpty || hi.isEmpty) (0L, 0L)
      else (lo.get, hi.get)
    // FNV-1a over the identity string: short, filesystem-safe, stable
    var h = 0xcbf29ce484222325L
    s"$src|$idCol|$nBatches|$cnt|$l|$h0".foreach { c =>
      h ^= c.toLong; h *= 0x100000001b3L
    }
    f"$kind%s-$h%016x"
  }

  /** Split `src` (a parquet file or directory) into up to `n`
    * equal-width ranges of the long `idCol`, one mtime-ordered file
    * per range in a fresh stage dir, and derive the ledger run key —
    * ONE (count, min, max) pass serves both. Key ≡ [[runKey]]
    * (shared [[keyOf]]): the key's min/max ride the cast-to-long
    * legs and the split ranges the uncast ones.
    *
    * An EMPTY range yields NO staged file (the dynamic-partition
    * write creates no dir for it), so the file stream delivers fewer
    * batches and batchIds renumber DENSELY over the non-empty ranges
    * — the drift oracles (Queries.driftCtes) load-bear on exactly
    * this renumbering, so don't "fix" it to emit 0-row files without
    * updating them. An empty source stages no file at all.
    */
  def stageWithKey(spark: SparkSession, src: String, idCol: String,
                   n: Int, kind: String)
      : (java.nio.file.Path, String) = {
    require(!kind.contains('-'), "kind must not contain '-'")
    require(n >= 1, "need at least one split")
    val df = spark.read.parquet(src)
    val r = df.agg(count(lit(1)),
      min(col(idCol).cast("long")), max(col(idCol).cast("long")),
      min(col(idCol)), max(col(idCol))).head()
    val key = keyOf(kind, src, idCol, n, r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val stage = fresh { stage =>
      if (!r.isNullAt(3)) splitsInto(df, idCol, n, r.getLong(3),
        r.getLong(4), stage)
    }
    (stage, key)
  }

  /** Any staged batch file present? ([[stageWithKey]] writes no
    * file for an empty source, and a model/pair save with nothing
    * to ingest would conjure up a sidecar-only layout dir.)
    */
  def nonEmpty(stage: java.nio.file.Path): Boolean = {
    val l = java.nio.file.Files.list(stage)
    try l.findFirst().isPresent finally l.close()
  }

  /** A fresh stage dir holding a verbatim copy of `src`'s parquet
    * data: the file itself, or every part file of a Spark-written
    * directory. The whole-source staging of the single-batch ingests
    * (no split write job); removed again if the copy fails.
    */
  def copy(src: String): java.nio.file.Path = fresh { stage =>
    val from = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.isDirectory(from)) {
      val s = java.nio.file.Files.list(from)
      try s.filter(_.toString.endsWith(".parquet")).forEach { f =>
        java.nio.file.Files.copy(f, stage.resolve(f.getFileName))
      } finally s.close()
    } else java.nio.file.Files.copy(from, stage.resolve(from.getFileName))
  }

  /** A new `graft_stage` temp dir filled by `fill`; deleted if `fill`
    * throws, so a failed staging leaves nothing behind.
    */
  private def fresh(fill: java.nio.file.Path => Unit): java.nio.file.Path = {
    val stage = java.nio.file.Files.createTempDirectory("graft_stage")
    try { fill(stage); stage }
    catch { case t: Throwable => EventStream.deleteScratch(stage); throw t }
  }

  /** [[stageWithKey]]'s split write, given the source's id range. */
  private def splitsInto(df: org.apache.spark.sql.DataFrame,
                         idCol: String, n: Int, lo: Long, hi: Long,
                         stage: java.nio.file.Path): Unit = {
    val span = math.max(1L, (hi - lo) / n + 1L) // ceil width, >= 1
    // ONE corpus pass: dynamic-partition write on the batch id (the
    // partition column never reaches file contents, so the split
    // schema equals the source schema), hash-spread on it
    // ([[graft.core.KeyedWrite]]) so each batch lands as a single
    // file in its directory — vs a scan-per-split loop, which reads
    // the source n times
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage_w")
    try {
      graft.core.KeyedWrite.spread(df.withColumn("__b",
          least(lit(n - 1), expr(s"(`$idCol` - $lo) div $span").cast("int"))),
          Seq("__b"), n)
        .write.partitionBy("__b").mode("overwrite").parquet(tmp.toString)
      for (i <- 0 until n) {
        val dir = tmp.resolve(s"__b=$i")
        if (java.nio.file.Files.isDirectory(dir)) { // empty ranges: no dir
          val part = {
            val s = java.nio.file.Files.list(dir)
            try {
              val it = s.iterator()
              var found: java.nio.file.Path = null
              while (it.hasNext && found == null) {
                val p = it.next()
                if (p.getFileName.toString.endsWith(".parquet")) found = p
              }
              found
            } finally s.close()
          }
          val dst = stage.resolve(f"b$i%04d.parquet")
          java.nio.file.Files.move(part, dst)
          // distinct, increasing mtimes: the file source orders new
          // files by timestamp, so the replay is deterministic and
          // id-ordered
          dst.toFile.setLastModified(1700000000000L + i * 60000L)
        }
      }
    } finally EventStream.deleteScratch(tmp)
  }
}
