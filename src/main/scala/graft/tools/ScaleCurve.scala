package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent measurement for the dedup family: times each
  * operator on 1×/2×/4× blowups of the documents table and prints the
  * fitted exponent k in t ∝ n^k (k = log(t_4/t_1) / log 4). Feeds the
  * scale table in PLANS.md — the claim "linear in postings" gets a
  * measured curve behind it.
  *
  * Blowup copies perturb every word (vowels → copy digit), so copies
  * are UNRELATED documents, not near-dups of the originals — corpus
  * growth, not duplicate injection (duplicating text verbatim would
  * grow the true-pair set quadratically and measure the answer size,
  * not the algorithm). Each blowup is materialized to parquet first so
  * generation cost never pollutes the timed window.
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // blowup multipliers; exponent fits last vs first
    val mults0 = if (args.length > 1) args(1).split(',').map(_.toInt).toSeq
      else Seq(1, 2, 4)
    // optional third arg: comma list of sections to run
    // (dedup,decontam,semdedup,ivf_assign,stream_probe); default all
    val sections = if (args.length > 2) args(2).split(',').toSet
      else Set("dedup", "decontam", "semdedup", "ivf_assign", "stream_probe",
        "r7new")
    def want(s: String): Boolean = sections.contains(s)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.Dedup

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1

    val mults = mults0
    val scaleDirs = mults.map { m =>
      val path = s"target/tmp/scale_curve/x$m"
      val blown = (0 until m).map { i =>
        if (i == 0) docs
        else docs.select((col("doc_id") + lit(i * maxId)).as("doc_id"),
          regexp_replace(col("text"), "[aeiou]", i.toString).as("text"))
      }.reduce(_ unionByName _)
      blown.write.mode("overwrite").parquet(path)
      m -> path
    }

    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "jaccard_capped" -> (d =>
        Dedup.jaccardPairs(d, "text", "doc_id", w = 3, threshold = 0.2,
          maxShingleDf = 128)),
      "jaccard_prefix" -> (d =>
        Dedup.jaccardPairsPrefix(d, "text", "doc_id", w = 3, threshold = 0.5)),
      "minhash_lsh" -> (d =>
        Dedup.minhashCandidatePairs(d, "text", "doc_id", w = 3,
          bands = 16, rows = 4, threshold = 0.2)),
      "simhash" -> (d =>
        Dedup.simhashPairs(d, "text", "doc_id", maxDist = 12)),
      "repetition" -> (d =>
        graft.pipeline.TextAnalysis.repetitionSignals(d, "text", "doc_id")),
      "seq_packing" -> (d =>
        graft.pipeline.SeqPack.packOffsets(spark, d, "text", "doc_id", 2048L)),
      "gopher" -> (d =>
        graft.pipeline.TextAnalysis.gopherFlags(d, "text", "doc_id")),
      "pii_scrub" -> (d => graft.pipeline.Pii.scrub(d, "text")),
      "corpus_mix" -> (d =>
        graft.pipeline.Mix.byWeight(
          d.withColumn("lang", (col("doc_id") % 5).cast("string")),
          "doc_id", "lang",
          Map("0" -> 0.5, "1" -> 2.25, "2" -> 0.0, "3" -> 1.0), 0.25)),
      "dup_spans" -> (d =>
        Dedup.duplicateSpans(d, "text", "doc_id", w = 8)),
      "span_dedup" -> (d =>
        Dedup.dropDuplicateSpans(d, "text", "doc_id", w = 8)))

    println(f"${"op"}%-16s ${"n_docs"}%8s ${"mult"}%5s ${"sec"}%8s ${"pairs"}%8s")
    val timings = (if (want("dedup")) ops else Seq.empty).map { case (name, fn) =>
      // untimed warm-up at 1x: codegen + JIT for this op's UDFs must
      // not be billed to the first measured point (it flips the sign
      // of the fitted exponent otherwise)
      fn(spark.read.parquet(scaleDirs.head._2)).count()
      val ts = scaleDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val nDocs = d.count()
        // warm the input's page cache / footers outside the window
        d.select(sum(length(col("text")))).collect()
        val t0 = System.nanoTime()
        val pairs = fn(d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$name%-16s $nDocs%8d $m%5d $sec%8.2f $pairs%8d")
        (m, sec)
      }
      val span = ts.last._1.toDouble / ts.head._1
      val k = math.log(ts.last._2 / ts.head._2) / math.log(span)
      println(f"$name%-16s exponent k=$k%.2f  (t ∝ n^k over ${ts.head._1}x→${ts.last._1}x)")
      name -> k
    }
    println(timings.map { case (n, k) => f"$n=$k%.2f" }.mkString("EXPONENTS: ", " ", ""))

    // ---- decontamination: training side grows, eval side FIXED ----
    // The real contamination-check shape: the eval corpus (odd ids of
    // the 1x table) never grows; only the training side blows up.
    // Plain vs Bloom-prefiltered on identical inputs — the bloom curve
    // should stay near-flat in the non-colliding training mass.
    // NB: the eval frame is rebuilt inside every iteration — the
    // cleanup unpersists ALL persistent RDDs, and a localCheckpoint'd
    // frame held across that has no lineage left to recompute
    // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    def evalSide() = docs.where(col("doc_id") % 2 === 1)
    for ((name, fn) <- (if (want("decontam")) Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "decontam_plain" -> ((l, r) =>
        Dedup.crossJaccardPairs(l, r, "text", "doc_id", 3, 0.2)),
      "decontam_bloom" -> ((l, r) =>
        Dedup.crossJaccardPairsBloom(l, r, "text", "doc_id", 3, 0.2)))
      else Seq.empty)) {
      fn(spark.read.parquet(scaleDirs.head._2)
        .where(col("doc_id") % 2 === 0), evalSide()).count() // warm-up
      val ts = scaleDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val train = spark.read.parquet(path).where(col("doc_id") % 2 === 0)
        val n = train.count()
        val t0 = System.nanoTime()
        val pairs = fn(train, evalSide()).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$name%-16s $n%8d $m%5d $sec%8.2f $pairs%8d")
        (m, sec)
      }
      val k = math.log(ts.last._2 / ts.head._2) /
        math.log(ts.last._1.toDouble / ts.head._1)
      println(f"$name%-16s exponent k=$k%.2f (train-side growth)")
    }
    // Bloom's win at this sf is shuffled VOLUME, not wall time (both
    // curves sit on fixed costs): quantify the posting rows that
    // survive the prefilter at the largest blowup.
    if (want("decontam")) {
      import graft.pipeline.TextAnalysis
      val train = spark.read.parquet(scaleDirs.last._2)
        .where(col("doc_id") % 2 === 0)
      def postings(d: DataFrame) = d.select(explode(array_distinct(
        TextAnalysis.shingleHashes(col("text"), 3))).as("h"))
      val total = postings(train).count()
      // the SHIPPED filter construction (Dedup.postingsBloom) and the
      // shipped probe expression, so the measured survival rate
      // quantifies the operator's own bloom
      val bloom = Dedup.postingsBloom(postings(evalSide()), 0.01).get
      val kept = postings(train).where(
        graft.functions.HashFunctions.bloomMightContain(col("h"), bloom)).count()
      println(f"bloom_prefilter  postings $total%d -> $kept%d " +
        f"(${100.0 * kept / total}%.2f%% shuffle into the join)")
    }

    // ---- semdedup: embeddings blowup, nlist ∝ corpus ----
    // Copies are rotated (direction changes, not scalings — cosine is
    // scale-invariant), so they cluster elsewhere instead of stacking
    // duplicates. nlist grows with the corpus per the operator
    // contract (work = n²/nlist stays ∝ n).
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val maxVid = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val embDirs = mults.map { m =>
      val path = s"target/tmp/scale_curve/emb_x$m"
      (0 until m).map { i =>
        if (i == 0) emb
        else {
          val rot = (i * 7) % dim max 1
          emb.select((col("vec_id") + lit(i * maxVid)).as("vec_id"),
            concat(slice(col("embedding"), rot + 1, dim - rot),
              slice(col("embedding"), 1, rot)).as("embedding"))
        }
      }.reduce(_ unionByName _).write.mode("overwrite").parquet(path)
      m -> path
    }
    // flat train vs hierarchical train, both with nlist ∝ corpus —
    // the two-level fold is what keeps the driver-side train cost
    // affordable as nlist grows with the data
    for (hier <- (if (want("semdedup")) Seq(false, true) else Seq.empty)) {
      val label = if (hier) "semdedup_hier" else "semdedup_flat"
      def run(d: DataFrame, nlist: Int): DataFrame = {
        import graft.pipeline.Ivf
        val model =
          if (hier) Ivf.trainHierarchical(d, "embedding", "vec_id", nlist, iters = 3)
          else Ivf.train(d, "embedding", "vec_id", nlist, iters = 3)
        Dedup.semDedupPostings(
          Ivf.assign(d, "embedding", model).localCheckpoint(true),
          "embedding", "vec_id", threshold = 0.35)
      }
      run(spark.read.parquet(embDirs.head._2), 16).count() // warm-up
      val sts = embDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val n = d.count()
        val t0 = System.nanoTime()
        val kept = run(d, 16 * m).where(col("keep")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$label%-16s $n%8d $m%5d $sec%8.2f $kept%8d")
        (m, sec)
      }
      val sk = math.log(sts.last._2 / sts.head._2) /
        math.log(sts.last._1.toDouble / sts.head._1)
      println(f"$label%-16s exponent k=$sk%.2f (nlist ∝ corpus)")
    }

    // ---- IVF assignment: nlist grows, corpus FIXED ----
    // The assign scan is the full-corpus cost of the IVF/semDedup
    // family. Train ONCE hierarchically per nlist, then time the same
    // centroid table two ways: flat scan (all nlist dots per row,
    // IvfModel(cents)) vs two-level descent (~3·√nlist dots). The
    // flat curve grows ~linearly with nlist; the descent curve is what
    // makes corpus-proportional nlist viable.
    if (want("ivf_assign")) {
      import graft.pipeline.{Ivf, IvfModel}
      val d = spark.read.parquet(embDirs.last._2).localCheckpoint(true)
      val n = d.count()
      val nlists = Seq(16, 256, 4096)
      for (hier <- Seq(false, true)) {
        val label = if (hier) "ivf_assign_hier" else "ivf_assign_flat"
        val ts = nlists.map { nlist =>
          val trained = Ivf.trainHierarchical(d, "embedding", "vec_id",
            nlist, iters = 3)
          val model = if (hier) trained else IvfModel(trained.centroids)
          // force the kernel: a bare count() lets Catalyst prune the
          // cluster column and times an empty scan
          def run(): Unit =
            Ivf.assign(d, "embedding", model).agg(sum(col("cluster"))).head()
          run() // warm-up: codegen+JIT
          val reps = 5
          val t0 = System.nanoTime()
          (0 until reps).foreach(_ => run())
          val sec = (System.nanoTime() - t0) / 1e9 / reps
          println(f"$label%-16s $n%8d nlist=$nlist%5d $sec%8.3f")
          (nlist, sec)
        }
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f (t ∝ nlist^k, corpus fixed)")
      }
    }
    // ---- streaming-dedup probe: index grows, batch key set FIXED ----
    // The r5 degenerate case: a batch touching all 64 (band, kb) dirs.
    // With key-sorted pages + per-key pushdown the probe's scanned
    // rows must track the BATCH's keys, not the index — measured as
    // scan-node output rows with and without the key filter.
    if (want("stream_probe")) {
      import graft.streaming.StreamingDedup
      import graft.functions.HashFunctions
      val keys = (1 to 128).map(i => (i * 2654435761L) % 65536L)
      val threshKey = "spark.sql.parquet.pushdown.inFilterThreshold"
      val prevT = spark.conf.getOption(threshKey)
      spark.conf.set(threshKey, StreamingDedup.ProbeKeyChunk + 1)
      try {
        println(f"${"stream_probe"}%-16s ${"index_rows"}%10s ${"mult"}%5s " +
          f"${"scanned"}%10s ${"no_filter"}%10s")
        for (m <- mults) {
          val path = s"target/tmp/scale_curve/sidx_x$m"
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(p, true)
          val banded = spark.range(192000L * m).select(
            col("id").as("doc"),
            HashFunctions.splitmix64(col("id"), 99L).as("sh"),
            (col("id") % 4).cast("int").as("band"),
            pmod(HashFunctions.splitmix64(col("id"), 7L), lit(65536L)).as("key"))
            .withColumn("kb", col("key") % StreamingDedup.IndexBuckets)
          StreamingDedup.appendIndex(banded, path)
          val allBuckets = (0L until 4L * StreamingDedup.IndexBuckets).toSeq
          def scanned(probe: org.apache.spark.sql.DataFrame): Long = {
            val qe = probe.queryExecution
            qe.executedPlan.execute().count()
            qe.executedPlan.collectLeaves().collect {
              case s: org.apache.spark.sql.execution.FileSourceScanExec =>
                s.metrics("numOutputRows").value
            }.sum
          }
          val withKeys = scanned(
            StreamingDedup.probeIndex(spark, path, allBuckets, keys))
          val noFilter = scanned(
            StreamingDedup.probeIndex(spark, path, allBuckets))
          println(f"${"stream_probe"}%-16s ${192000L * m}%10d $m%5d " +
            f"$withKeys%10d $noFilter%10d")
        }
      } finally prevT match {
        case Some(v) => spark.conf.set(threshKey, v)
        case None => spark.conf.unset(threshKey)
      }
    }
    // ---- r7 newcomers: mmr, ivf incremental, session window, bucketed join ----
    if (want("r7new")) {
      import graft.pipeline.{Ivf, Similarity}
      def fitK(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      // queries rebuilt per iteration — the cleanup unpersists all
      // RDDs, so no localCheckpoint may be held across it
      def q8() = emb.where(col("vec_id") < 8)

      // MMR: corpus grows, query set fixed. The candidate top-N is
      // the distributed stage; the greedy rerank is the
      // contract-bounded driver fold (8 queries × 4k rows, constant).
      Similarity.mmrTopK(spark.read.parquet(embDirs.head._2), q8(),
        "embedding", "vec_id", k = 10).count() // warm-up
      val mts = embDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val n = d.count()
        val t0 = System.nanoTime()
        val rows = Similarity.mmrTopK(d, q8(), "embedding", "vec_id",
          k = 10).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"mmr"}%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK(mts, "mmr")

      // IVF incremental: each blowup's index is grown by 1 base write
      // + 7 equal appends against the frozen quantizer, then searched
      // (compacted curve). At the largest blowup, search is also
      // timed on the UNCOMPACTED 8-file-set pile to quantify what
      // compaction buys.
      val its = embDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val n = d.count()
        val model = Ivf.train(d, "embedding", "vec_id", nlist = 16, iters = 3)
        val idx = s"target/tmp/scale_curve/ivfinc_x$m"
        val ip = new org.apache.hadoop.fs.Path(idx)
        val fs = ip.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(ip, true)
        val hi = maxVid * m
        val step = hi / 8 + 1
        Ivf.writeIndex(Ivf.assign(
          d.where(col("vec_id") < step), "embedding", model), idx)
        (1 until 8).foreach { i =>
          Ivf.appendToIndex(d.where(col("vec_id") >= i.toLong * step &&
            col("vec_id") < (i + 1).toLong * step), "embedding", model, idx)
        }
        def files(): Long = {
          val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
          try s.filter(f => f.toString.endsWith(".parquet")).count()
          finally s.close()
        }
        def timeSearch(): Double = {
          val t0 = System.nanoTime()
          Ivf.search(Ivf.readIndex(spark, idx), q8(), "embedding",
            "vec_id", model, k = 10, nprobe = 4).count()
          (System.nanoTime() - t0) / 1e9
        }
        timeSearch() // warm-up
        val uncompacted = timeSearch()
        val fBefore = files()
        Ivf.compactIndex(spark, idx)
        val fAfter = files()
        val sec = timeSearch()
        println(f"${"ivf_incremental"}%-16s $n%8d $m%5d $sec%8.2f " +
          f"(uncompacted $uncompacted%.2f s, files $fBefore%d -> $fAfter%d)")
        (m, sec)
      }
      fitK(its, "ivf_incremental")

      // native session windows, BATCH semantics (session_window is
      // the same aggregation in both modes; the streaming run adds a
      // fixed micro-batch floor that would drown the curve): events
      // blowup offsets user ids, so sessions per user stay constant
      // and the state/shuffle volume grows ∝ n.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev0 = graft.queries.Queries.tbl(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
      val maxUid = ev0.agg(max("user_id")).head().getLong(0) + 1
      val evDirs = mults.map { m =>
        val path = s"target/tmp/scale_curve/ev_x$m"
        (0 until m).map { i =>
          if (i == 0) ev0
          else ev0.select((col("user_id") + lit(i * maxUid)).as("user_id"),
            col("event_id"), col("ts"))
        }.reduce(_ unionByName _).write.mode("overwrite").parquet(path)
        m -> path
      }
      def sessWin(d: DataFrame) = d
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      sessWin(spark.read.parquet(evDirs.head._2)).count() // warm-up
      val sts = evDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val n = d.count()
        val t0 = System.nanoTime()
        val rows = sessWin(d).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"session_window"}%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK(sts, "session_window")

      // bucketed join: both sides blown up and re-bucketed (at scale
      // bucketing happens once at ingest; the per-query cost under
      // test is the zero-exchange merge join, so only the join+agg is
      // timed).
      val cust0 = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val ord0 = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_custkey").as("c_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val maxCk = cust0.agg(max("c_custkey")).head().getLong(0) + 1
      val bts = mults.map { m =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        def blow(d: DataFrame) = (0 until m).map { i =>
          if (i == 0) d
          else d.withColumn("c_custkey", col("c_custkey") + lit(i * maxCk))
        }.reduce(_ unionByName _)
        graft.operators.Bucketing.writeBucketed(blow(cust0),
          "graft_sc_customer", "c_custkey", 8)
        graft.operators.Bucketing.writeBucketed(blow(ord0),
          "graft_sc_orders", "c_custkey", 8)
        val n = spark.table("graft_sc_orders").count()
        val t0 = System.nanoTime()
        val rows = graft.operators.Bucketing.colocatedJoin(spark,
            "graft_sc_customer", "graft_sc_orders", Seq("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(sum(col("cents")).as("cents")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"bucketed_join"}%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK(bts, "bucketed_join")
    }

    if (want("r8new")) {
      // DSIR: fit (two bounded-key aggregations) + score (broadcast-
      // model map pass) + top-k. Target = even doc ids (the blown-up
      // corpora carry no lang column); both corpus scans grow ∝ n,
      // driver/broadcast state is the fixed 512-bucket pair.
      def fitK8(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      def dsirRun(d: DataFrame): Long = {
        val m = graft.pipeline.Dsir.fit(
          d.where(col("doc_id") % 2 === 0), d, "text", buckets = 512)
        graft.pipeline.Dsir.selectTopK(d, "text", "doc_id", m, k = 100)
          .count()
      }
      dsirRun(spark.read.parquet(scaleDirs.head._2)) // warm-up
      val dts = scaleDirs.map { case (m, path) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        val d = spark.read.parquet(path)
        val n = d.count()
        val t0 = System.nanoTime()
        val rows = dsirRun(d)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"dsir_select"}%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK8(dts, "dsir_select")
    }

    // ---- r8 late newcomers: NB classifier, stratified split, BM25,
    // URL blocklist — corpus grows, models/queries/blocklist fixed ----
    if (want("r8new2")) {
      import graft.pipeline.{Bm25, Classify, Split, UrlFilter}
      def fitK8(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      val runs: Seq[(String, DataFrame => Long)] = Seq(
        "nb_classifier" -> { d =>
          val m = Classify.fit(d, col("doc_id") % 2 === 0, "text",
            buckets = 512)
          Classify.selectTopK(d, "text", "doc_id", m, k = 100).count()
        },
        "split_stratified" -> { d =>
          Split.splitStratified(spark,
            d.withColumn("stratum", (col("doc_id") % 20).cast("string")),
            "doc_id", "stratum",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 42L).count()
        },
        "bm25_topk" -> { d =>
          Bm25.topK(spark, d, "text", "doc_id",
            Seq(0L -> "hash join", 1L -> "fast table scan",
              2L -> "merge sort window"), k = 10).count()
        },
        "url_blocklist" -> { d =>
          UrlFilter.flagBlockedUrls(
            d.withColumn("url", concat(lit("https://h"),
              col("doc_id") % 97, lit(".example.com/d"))), "url",
            Seq("h13.example.com", "h31.example.com"))
            .agg(count_if(col("blocked"))).head()
          1L
        },
        "top_terms" -> { d =>
          graft.pipeline.HeavyHitters.topTerms(spark, d, "text",
            k = 30, capacity = 512).count()
        },
        "mix_temperature" -> { d =>
          graft.pipeline.Mix.byTemperature(
            d.withColumn("lang", (col("doc_id") % 7).cast("string")),
            "doc_id", "lang", tau = 2.0).count()
        })
      for ((label, run) <- runs) {
        run(spark.read.parquet(scaleDirs.head._2)) // warm-up
        val ts = scaleDirs.map { case (m, path) =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          val d = spark.read.parquet(path)
          val n = d.count()
          val t0 = System.nanoTime()
          val rows = run(d)
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$label%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
          (m, sec)
        }
        fitK8(ts, label)
      }

      // the MG claim, measured: shuffle volume of the bounded-state
      // sketch vs the naive groupBy(term).count, on a HIGH-cardinality
      // term universe (corpus token × doc-id bucket — the fixture
      // vocabulary alone is only ~31 words, too small to show the
      // effect the sketch exists for)
      {
        val d = spark.read.parquet(scaleDirs.last._2)
        def shuffleStats(df: DataFrame): (Long, Long) = {
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          val qe = df.queryExecution
          qe.executedPlan.execute().count()
          // AQE replaces Exchange nodes with materialized query
          // stages — walk through both wrappers to the real exchanges
          def walk(p: SparkPlan): Seq[SparkPlan] = p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
            case s: QueryStageExec => s +: walk(s.plan)
            case other => other +: other.children.flatMap(walk)
          }
          val ex = walk(qe.executedPlan).collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }
          (ex.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
            ex.map(_.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum)
        }
        val terms = d.select(col("doc_id"),
            explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("t"))
          .select(concat(col("t"), lit("#"),
            pmod(col("doc_id"), lit(5000L))).as("term"))
        val (mgR, mgB) = shuffleStats(terms.agg(
          graft.functions.MisraGries.misraGries(col("term"), 512).as("s")))
        val (nvR, nvB) = shuffleStats(terms.groupBy(col("term")).count())
        println(f"mg_shuffle  sketch rows=$mgR%d bytes=$mgB%d " +
          f"vs naive groupBy rows=$nvR%d bytes=$nvB%d")
      }
    }

    // ---- r8 latest newcomers: BPE train/encode, curation v2, and
    // the BM25 persisted-index lifecycle (build cost ∝ corpus; search
    // cost over the GROWN index with fixed queries — bucket pruning
    // keeps the scan to the q query-term buckets) ----
    if (want("r8new3")) {
      import graft.pipeline.{Bm25, Bpe, Classify, Mix, UrlFilter}
      def fitK8(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      // encode model trained ONCE on the 1x corpus (the model is the
      // fixed artifact; what scales is the encode pass)
      val bpeModel = Bpe.train(
        spark.read.parquet(scaleDirs.head._2), "text", numMerges = 60)
      def curationCols(d: DataFrame): DataFrame = d
        .withColumn("lang", (col("doc_id") % 7).cast("string"))
        .withColumn("url", concat(lit("https://h"),
          col("doc_id") % 97, lit(".example.com/d"), col("doc_id")))
      val runs: Seq[(String, DataFrame => Long)] = Seq(
        "bpe_train" -> { d =>
          Bpe.train(d, "text", numMerges = 60).merges.size.toLong
        },
        "bpe_encode" -> { d =>
          d.select(Bpe.bpeTokenCount(col("text"), bpeModel).as("n"))
            .agg(sum(col("n"))).head()
          1L
        },
        "curation_v2" -> { d =>
          val docs = curationCols(d)
          val kept = UrlFilter.dropBlockedUrls(docs, "url",
            Seq("h13.example.com", "h31.example.com")).localCheckpoint(true)
          val m = Classify.fit(kept, col("doc_id") % 2 === 0, "text",
            buckets = 512)
          val classified = kept.where(
            Classify.nbLogOdds(col("text"), m).getField("_2") >= 0L)
          val withFp = classified.withColumn("fp",
            graft.pipeline.TextAnalysis.fingerprint(col("text")))
          val minIds = withFp.groupBy(col("fp"))
            .agg(min(col("doc_id")).as("doc_id"))
          val deduped = withFp.join(minIds, Seq("fp", "doc_id"), "left_semi")
          Mix.byTemperature(deduped.select("doc_id", "lang"),
            "doc_id", "lang", tau = 2.0).count()
        },
        "bm25_index_build" -> { d =>
          Bm25.writeIndex(spark, d, "text", "doc_id",
            "target/tmp/scale_curve/bm25_idx")
          1L
        },
        "weighted_sample" -> { d =>
          graft.pipeline.Sample.weightedSample(
            d.withColumn("w",
              graft.pipeline.TextAnalysis.tokenCount(col("text"))),
            "doc_id", "w", k = 100, seed = 42L).count()
        },
        "percentiles" -> { d =>
          graft.pipeline.OrderStats.exactPercentiles(spark,
            d.withColumn("grp", (col("doc_id") % 7).cast("string")),
            "grp", "doc_id", "doc_id", Seq(0, 25, 50, 75, 100)).count()
        })
      for ((label, run) <- runs) {
        run(spark.read.parquet(scaleDirs.head._2)) // warm-up
        val ts = scaleDirs.map { case (m, path) =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          val d = spark.read.parquet(path)
          val n = d.count()
          val t0 = System.nanoTime()
          val rows = run(d)
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$label%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
          (m, sec)
        }
        fitK8(ts, label)
      }
      // search over the grown index: one index per blowup built
      // OUTSIDE the timed window, fixed 3-query batch timed
      val sq = Seq(0L -> "hash join", 1L -> "fast table scan",
        2L -> "merge sort window")
      Bm25.searchIndex(spark, "target/tmp/scale_curve/bm25_idx", sq, 10)
        .count() // warm-up (idx currently holds the last blowup)
      val sts = scaleDirs.map { case (m, path) =>
        val idx = s"target/tmp/scale_curve/bm25_idx_x$m"
        Bm25.writeIndex(spark, spark.read.parquet(path), "text", "doc_id", idx)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = Bm25.searchIndex(spark, idx, sq, 10).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"bm25_idx_search"}%-16s ${"-"}%8s $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      val sk = math.log(sts.last._2 / sts.head._2) /
        math.log(sts.last._1.toDouble / sts.head._1)
      println(f"${"bm25_idx_search"}%-16s exponent k=$sk%.2f")
    }

    // ---- r8 closing newcomers: fused validation, snapshot diff,
    // normalized dedup, content-keyed split, CCNet buckets, span
    // scrub, dedup-index probe ----
    if (want("r8new4")) {
      import graft.pipeline.{DedupIndex, LmQuality, Snapshot, Split, Validate}
      def fitK8(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      // fixed artifacts trained/held on the 1x corpus: what scales is
      // the per-blowup pass (bpe_encode pattern)
      val ccnetLm = LmQuality.train(
        spark.read.parquet(scaleDirs.head._2)
          .where(col("doc_id") % 2 === 0), "text", "doc_id",
        vocabSize = 2000, maxBigrams = 50000)
      val evalThird = spark.read.parquet(scaleDirs.head._2)
        .where(col("doc_id") % 3 === 0).localCheckpoint(true)
      val runs: Seq[(String, DataFrame => Long)] = Seq(
        "ccnet_buckets" -> { d =>
          LmQuality.perplexityBuckets(d, "text", "doc_id", ccnetLm)
            .groupBy(col("bucket")).count().count()
        },
        "decontam_scrub" -> { d =>
          Dedup.decontamSpanScrub(d, evalThird, "text", "doc_id", w = 8)
            .count()
        },
        "validate_profile" -> { d =>
          Validate.profile(d, Seq("doc_id", "text")).count()
        },
        "validate_check" -> { d =>
          Validate.check(d, Seq(
            Validate.Constraint.notNull("text"),
            Validate.Constraint.matches("text", "^[\\x20-\\x7e\\s]*$"),
            Validate.Unique(Seq("doc_id")))).count()
        },
        "snapshot_diff" -> { d =>
          val newer = d.where(col("doc_id") % 11 =!= 0)
            .withColumn("text", when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text")))
          Snapshot.diff(d, newer, "doc_id", "text").count()
        },
        "dedup_normalized" -> { d =>
          Dedup.normalizedGroups(d, "text", "doc_id").count()
        },
        "split_content" -> { d =>
          Split.splitByContent(d, "text",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
            .groupBy(col("split")).agg(count(lit(1))).count()
        })
      for ((label, run) <- runs) {
        run(spark.read.parquet(scaleDirs.head._2)) // warm-up
        val ts = scaleDirs.map { case (m, path) =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          val d = spark.read.parquet(path)
          val n = d.count()
          val t0 = System.nanoTime()
          val rows = run(d)
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$label%-16s $n%8d $m%5d $sec%8.2f $rows%8d")
          (m, sec)
        }
        fitK8(ts, label)
      }
      // dedup-index probe over a GROWING index: one index per blowup
      // built OUTSIDE the timed window, a FIXED 100-doc increment
      // probed — bucket pruning must hold probe time ~flat as the
      // indexed corpus grows (the bm25_idx_search pattern)
      val inc = spark.read.parquet(scaleDirs.head._2)
        .limit(100)
        .select((col("doc_id") + lit(10_000_000L)).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val pts = scaleDirs.map { case (m, path) =>
        val idx = s"target/tmp/scale_curve/dedup_idx_x$m"
        DedupIndex.writeIndex(spark, spark.read.parquet(path), "text",
          "doc_id", idx)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = DedupIndex.probe(spark, idx, inc, "text", "doc_id").count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"dedup_idx_probe"}%-16s ${"-"}%8s $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK8(pts, "dedup_idx_probe")
    }

    // ---- r9 newcomers: near-dup index probe over a growing index,
    // IVF/IVF-PQ recall@5 as a function of nprobe (the tuning table
    // the recall harness exists to produce) ----
    if (want("r9new")) {
      import graft.pipeline.{Ivf, NearDupIndex, Pq, Similarity}
      def fitK9(ts: Seq[(Int, Double)], label: String): Unit = {
        val k = math.log(ts.last._2 / ts.head._2) /
          math.log(ts.last._1.toDouble / ts.head._1)
        println(f"$label%-16s exponent k=$k%.2f")
      }
      // FIXED 100-doc increment probed against a growing band index —
      // cell pruning + candidate-set pruning must hold probe time
      // ~flat (the dedup_idx_probe claim for the near-dup layout)
      val inc = spark.read.parquet(scaleDirs.head._2)
        .limit(100)
        .select((col("doc_id") + lit(10_000_000L)).as("doc_id"), col("text"))
        .localCheckpoint(true)
      val nts = scaleDirs.map { case (m, path) =>
        val idx = s"target/tmp/scale_curve/neardup_idx_x$m"
        NearDupIndex.writeIndex(spark, spark.read.parquet(path), "text",
          "doc_id", idx)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = NearDupIndex.probe(spark, idx, inc, "text", "doc_id",
          threshold = 0.2).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"neardup_probe"}%-16s ${"-"}%8s $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      fitK9(nts, "neardup_probe")

      // recall@5 vs nprobe on the full sf embeddings (fixed data, the
      // knob sweeps): what a deployment reads off before picking
      // nprobe. Exact parity at nprobe = nlist is the sanity anchor.
      val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val qs = embAll.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(embAll, qs, "embedding",
        "vec_id", k = 5).localCheckpoint(true)
      val ivf = Ivf.train(embAll, "embedding", "vec_id", nlist = 16, iters = 3)
      val pq = Pq.train(embAll, "embedding", "vec_id", m = 8, ksub = 16,
        iters = 3)
      val postings = Ivf.assign(embAll, "embedding", ivf).localCheckpoint(true)
      for (np <- Seq(2, 4, 8, 16)) {
        def mean(df: DataFrame): Double =
          df.agg(avg(col("recall"))).head().getDouble(0)
        val rIvf = mean(Similarity.recallAtK(truth,
          Ivf.search(postings, qs, "embedding", "vec_id", ivf, k = 5,
            nprobe = np), k = 5))
        val rPq = mean(Similarity.recallAtK(truth,
          Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
            Ivf.Codec.Pq(pq), ivf, k = 5, nprobe = np, oversample = 4), k = 5))
        println(f"${"recall_sweep"}%-16s nprobe=$np%2d ivf=$rIvf%.3f " +
          f"ivfpq=$rPq%.3f")
      }
      // the plateau diagnosis: if nprobe can't buy IVF-PQ recall, the
      // CODES are the bottleneck — sweep the quantizer knobs (m = code
      // bytes, oversample = exact-rescore shortlist factor) at a fixed
      // generous nprobe and watch recall move
      for (m <- Seq(8, 16); os <- Seq(4, 8, 16)) {
        val pqm = if (m == 8) pq
          else Pq.train(embAll, "embedding", "vec_id", m = m, ksub = 16,
            iters = 3)
        val r = Similarity.recallAtK(truth,
            Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
              Ivf.Codec.Pq(pqm), ivf, k = 5, nprobe = 8, oversample = os), k = 5)
          .agg(avg(col("recall"))).head().getDouble(0)
        println(f"${"pq_knob_sweep"}%-16s m=$m%2d os=$os%2d nprobe=8 " +
          f"recall=$r%.3f")
      }
    }

    // ---- r10: residual (IVF-ADC) vs plain PQ codes at the SAME
    // knobs — the sweep behind the round-10 residual encoder. The r9
    // finding was that the CODES bound IVF-PQ recall (nprobe can't
    // move it); residual codebooks only have to cover within-cell
    // spread, so recall at fixed m must clear the plain-code figure.
    if (want("r10pqr")) {
      import graft.pipeline.{Ivf, Pq, Similarity}
      val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val qs = embAll.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(embAll, qs, "embedding",
        "vec_id", k = 5).localCheckpoint(true)
      val ivf = Ivf.train(embAll, "embedding", "vec_id", nlist = 16,
        iters = 3)
      val postings = Ivf.assign(embAll, "embedding", ivf).localCheckpoint(true)
      def meanR(df: DataFrame): Double =
        df.agg(avg(col("recall"))).head().getDouble(0)
      // cluster-structure instrument: residual norms only shrink when
      // x·c(assigned) is large — on a weakly-clustered corpus
      // ||x − c||² = 2(1 − x·c) EXCEEDS ||x||² = 1 and residual
      // codebooks must cover a WIDER distribution than the raw sphere
      val struct = Ivf.assign(embAll, "embedding", ivf)
        .select(Ivf.centroidDotCol(col("embedding"), col("cluster"), ivf)
          .as("xc"))
        .agg(avg(col("xc")), min(col("xc")), max(col("xc"))).head()
      println(f"${"pqr_structure"}%-16s mean_xc=${struct.getDouble(0)}%.3f " +
        f"min=${struct.getDouble(1)}%.3f max=${struct.getDouble(2)}%.3f " +
        f"mean_resid_norm=${math.sqrt(2 * (1 - struct.getDouble(0)))}%.3f")
      for (m <- Seq(8, 16); ksub <- Seq(16, 256); os <- Seq(4, 8, 16, 32)) {
        val plain = Pq.train(embAll, "embedding", "vec_id", m = m,
          ksub = ksub, iters = 3)
        val resid = Ivf.trainPqResidual(embAll, "embedding", "vec_id", ivf,
          m = m, ksub = ksub, iters = 3)
        val rP = meanR(Similarity.recallAtK(truth,
          Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
            Ivf.Codec.Pq(plain), ivf, k = 5, nprobe = 8, oversample = os),
          k = 5))
        val rR = meanR(Similarity.recallAtK(truth,
          Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
            Ivf.Codec.PqResidual(resid), ivf, k = 5, nprobe = 8,
            oversample = os), k = 5))
        println(f"${"pqr_knob_sweep"}%-16s m=$m%2d ksub=$ksub%3d os=$os%2d " +
          f"nprobe=8 plain=$rP%.3f resid=$rR%.3f")
      }
      // sanity anchor: nprobe = nlist + exhaustive shortlist must hit
      // 1.0 for BOTH scorers (the rescore is exact; only the coarse
      // probe and the shortlist can lose truth)
      val pq16 = Pq.train(embAll, "embedding", "vec_id", m = 8, ksub = 16,
        iters = 3)
      val pqr16 = Ivf.trainPqResidual(embAll, "embedding", "vec_id", ivf,
        m = 8, ksub = 16, iters = 3)
      val aP = meanR(Similarity.recallAtK(truth,
        Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
          Ivf.Codec.Pq(pq16), ivf, k = 5, nprobe = 16, oversample = 100000),
        k = 5))
      val aR = meanR(Similarity.recallAtK(truth,
        Ivf.searchCodes(postings, postings, qs, "embedding", "vec_id",
          Ivf.Codec.PqResidual(pqr16), ivf, k = 5, nprobe = 16,
          oversample = 100000), k = 5))
      println(f"${"pqr_anchor"}%-16s nprobe=nlist os=inf plain=$aP%.3f " +
        f"resid=$aR%.3f (both must be 1.0)")
    }

    // ---- r10: perceptual-hash index probe vs index growth — the
    // incremental-dedup claim for the multimodal layout: a FIXED
    // 100-image increment probed against a growing band index must
    // stay ~flat (cell pruning + per-cell key In pushdown)
    if (want("r10img")) {
      import graft.pipeline.{Multimodal, PHashIndex}
      val inc = Multimodal.synthetic(spark, 300)
        .where(col("kind") === "image").limit(100)
        .select((col("id") + 10_000_000L).as("id"), col("kind"),
          col("bytes"), col("width"), col("height"), col("durationMs"))
        .localCheckpoint(true)
      val pts = mults.map { m =>
        val corpus = Multimodal.synthetic(spark, 3000 * m)
          .where(col("kind") === "image")
        val idx = s"target/tmp/scale_curve/phash_idx_x$m"
        PHashIndex.writeIndex(spark, corpus, "bytes", "id", idx)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = PHashIndex.probe(spark, idx, inc, "bytes", "id",
          maxDist = 6).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"phash_probe"}%-16s ${"-"}%8s $m%5d $sec%8.2f $rows%8d")
        (m, sec)
      }
      val k = math.log(pts.last._2 / pts.head._2) /
        math.log(pts.last._1.toDouble / pts.head._1)
      println(f"${"phash_probe"}%-16s exponent k=$k%.2f")
    }

    // ---- streaming index ingest: corpus grows, batch COUNT fixed ----
    // The claim behind StreamingBm25/StreamingIvf: per-batch cost
    // follows the batch (each append explodes/assigns only its
    // increment and dynamic-partition-appends only touched dirs), so
    // total ingest over a fixed number of batches is ∝ corpus (k≈1),
    // and post-ingest search stays flat (bucket/cluster-pruned).
    if (want("stream_ingest")) {
      def splitRanges(path: String, idCol: String, n: Int) = {
        val d = spark.read.parquet(path)
        val r = d.agg(min(col(idCol)), max(col(idCol))).head()
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        val span = math.max(1L, (hi - lo) / n + 1L)
        (0 until n).map(i => d.where(col(idCol) >= lo + i * span &&
          col(idCol) < lo + (i + 1) * span))
      }
      import graft.streaming.{StreamingBm25, StreamingIvf}
      val bmQs = Seq(0L -> "hash join", 1L -> "fast table scan")
      // warm-up at 1x (codegen for the explode/agg/search pipelines)
      locally {
        val w = java.nio.file.Files.createTempDirectory("sc_bm_w")
          .resolve("i").toString
        splitRanges(scaleDirs.head._2, "doc_id", 2).foreach(b =>
          StreamingBm25.processBatch(spark, b, "text", "doc_id", w))
        graft.pipeline.Bm25.searchIndex(spark, w, bmQs, k = 10).count()
      }
      val bmTs = scaleDirs.map { case (m, path) =>
        val idx = java.nio.file.Files.createTempDirectory("sc_bm")
          .resolve("i").toString
        val batches = splitRanges(path, "doc_id", 4)
        val t0 = System.nanoTime()
        batches.foreach(b =>
          StreamingBm25.processBatch(spark, b, "text", "doc_id", idx))
        graft.pipeline.Bm25.compactIndex(spark, idx)
        val tIngest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.pipeline.Bm25.searchIndex(spark, idx, bmQs, k = 10).count()
        val tSearch = (System.nanoTime() - t1) / 1e9
        println(f"${"sbm25_ingest"}%-16s $m%5d ingest=$tIngest%8.2f " +
          f"search=$tSearch%6.2f")
        (m, tIngest)
      }
      val kBm = math.log(bmTs.last._2 / bmTs.head._2) /
        math.log(bmTs.last._1.toDouble / bmTs.head._1)
      println(f"${"sbm25_ingest"}%-16s exponent k=$kBm%.2f")

      // frozen quantizer trained once on the 1x table (the deployment
      // contract: train offline on a sample, add online)
      val ivfModel = graft.pipeline.Ivf.train(
        spark.read.parquet(embDirs.head._2), "embedding", "vec_id",
        nlist = 16, iters = 3)
      val ivfTs = embDirs.map { case (m, path) =>
        val idx = java.nio.file.Files.createTempDirectory("sc_ivf")
          .resolve("i").toString
        val batches = splitRanges(path, "vec_id", 4)
        val t0 = System.nanoTime()
        batches.foreach(b =>
          StreamingIvf.processBatch(b, "embedding", ivfModel, idx))
        graft.pipeline.Ivf.compactIndex(spark, idx)
        val tIngest = (System.nanoTime() - t0) / 1e9
        val qs = spark.read.parquet(embDirs.head._2)
          .where(col("vec_id") < 10)
        val t1 = System.nanoTime()
        graft.pipeline.Ivf.search(graft.pipeline.Ivf.readIndex(spark, idx),
          qs, "embedding", "vec_id", ivfModel, k = 5, nprobe = 4).count()
        val tSearch = (System.nanoTime() - t1) / 1e9
        println(f"${"sivf_ingest"}%-16s $m%5d ingest=$tIngest%8.2f " +
          f"search=$tSearch%6.2f")
        (m, tIngest)
      }
      val kIvf = math.log(ivfTs.last._2 / ivfTs.head._2) /
        math.log(ivfTs.last._1.toDouble / ivfTs.head._1)
      println(f"${"sivf_ingest"}%-16s exponent k=$kIvf%.2f")

      // embed-dedup probe: INDEX grows, probe batch FIXED — the
      // incremental-dedup claim for the newest index (cell pruning +
      // the count-gated bucket In pushdown should keep the probe
      // near-flat while the index quadruples)
      import graft.pipeline.EmbedDedupIndex
      val probeBatch = spark.read.parquet(embDirs.head._2)
        .where(col("vec_id") < 10).localCheckpoint(true)
      val edTs = embDirs.map { case (m, path) =>
        val idx = java.nio.file.Files.createTempDirectory("sc_ed")
          .resolve("index").toString
        EmbedDedupIndex.buildWithPairs(spark,
          spark.read.parquet(path).where(col("vec_id") >= 10),
          "embedding", "vec_id", idx, dim = 64, bits = 8)
        EmbedDedupIndex.compactIndex(spark, idx)
        val t0 = System.nanoTime()
        val n = EmbedDedupIndex.probeAndAppend(spark, idx, probeBatch,
          "embedding", "vec_id", dim = 64, bits = 8).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${"embed_probe"}%-16s $m%5d probe=$sec%8.2f pairs=$n%5d")
        (m, sec)
      }
      val kEd = math.log(edTs.last._2 / edTs.head._2) /
        math.log(edTs.last._1.toDouble / edTs.head._1)
      println(f"${"embed_probe"}%-16s exponent k=$kEd%.2f (index growth)")
    }
    spark.stop()
  }
}
