package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, NgramLm, TfIdf}

/** Scaling spot-run for the heavy pipeline operators (requested by the
  * round-8 verdict): runs the UNDERLYING operators — not the bench's
  * small fixed slices — on a 1× and an N× corpus and prints one JSON
  * line per (stage, scale), so per-job fixed overhead (dominant at toy
  * scale) separates from real data scaling.
  *
  * The N× corpus is `documents` replicated with per-replica word
  * salting: every 3rd word gets a replica suffix, so every 3-shingle
  * crosses a salted word and CROSS-replica similarity collapses, while
  * WITHIN-replica duplicate structure is exactly the original (clones
  * get the same transformation). N× therefore means "N independent
  * shards of the original distribution" — the linear-scaling null
  * hypothesis a healthy operator should track.
  *
  * Usage: `runMain graft.BenchScale [sfDir] [replicaList]`, default
  * `/root/testdata/sf0.1 1,10`.
  */
object BenchScale {

  private def corpus(docs: DataFrame, replicas: Int): DataFrame =
    if (replicas == 1) docs
    else (0 until replicas).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "),
            (w, i) => when(i % 3 === 0, concat(w, lit(s"_r$r"))).otherwise(w))))
    }.reduce(_ unionByName _)

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Min-of-2 like the bench protocol; returns (seconds, result). */
  private def timed2[A](f: => A): (Double, A) = {
    val (t1, a) = timed(f)
    val (t2, _) = timed(f)
    (math.min(t1, t2), a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicaList = args.lift(1).getOrElse("1,10")
      .split(",").map(_.trim.toInt).toSeq
    // honor the driver's core-count env like Bench does (r21, VERDICT
    // item 2): BenchScale's replicated corpora are compute-bound where
    // the sf0.1 bench is overhead-bound, so THIS is the surface where
    // 8-vs-32-core ratios can actually separate; `cpus` rides every
    // output line so the scaling harness can verify the setting took
    val cpus = Cpus.fromEnv(default = 32)
    cpusLabel = cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions",
        "graft.iceberg.connector.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm-up

    val docs0 = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    replicaList.foreach { r =>
      // materialize the corpus OUTSIDE the timings: generation is not
      // the operator under test
      val all = corpus(docs0, r)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = all.count()

      // q41b core: minhash + banding + bucket join
      val (tPairs, nPairs) = timed2(
        Dedup.minhashCandidatePairs(all, "doc_id", "text",
          numHashes = 32, bands = 16).count())
      report("minhash_pairs", r, tPairs, nDocs, nPairs)

      // q63 core: verified candidates -> connected components -> clusters
      val (tCc, nClustered) = timed2 {
        val candidates = Dedup.minhashCandidatePairs(all, "doc_id", "text",
          numHashes = 32, bands = 16)
        val texts = all.select(col("doc_id"), col("text"))
        val verified = candidates
          .join(texts.select(col("doc_id").as("qa"), col("text").as("ta")), "qa")
          .join(texts.select(col("doc_id").as("qb"), col("text").as("tb")), "qb")
          .filter(col("ta") === col("tb"))
          .select("qa", "qb")
        Dedup.connectedComponents(verified).count()
      }
      report("dedup_clusters", r, tCc, nDocs, nClustered)

      // q40 core: n-gram Jaccard on 100 docs per replica (the bench
      // slice, scaled with the corpus)
      val slice = all.filter(col("doc_id") % 10000000L < 100)
      val (tJac, nJac) = timed2(
        Dedup.ngramJaccardPairs(slice, "doc_id", "text", n = 3).count())
      report("ngram_jaccard", r, tJac, nDocs, nJac)

      // q82 core: decontamination — benchmark side FIXED (replica 0's
      // doc_id % 19 == 0 docs, the realistic shape: benchmarks don't grow
      // with the corpus), corpus side scales with r
      val bench = all.filter(col("doc_id") < 10000000L && col("doc_id") % 19 === 0)
      val train = all.filter(col("doc_id") % 19 =!= 0)
      val (tDec, nDec) = timed2(
        graft.operators.Decontamination.overlapHits(
          train, bench, "doc_id", "text", n = 4).count())
      report("decontam", r, tDec, nDocs, nDec)

      // q87 core: incremental admission — batch FIXED (~500 docs: half
      // clones of corpus docs, half near-miss novels that collide in
      // bands but fail verification, the realistic worst case), corpus
      // INDEX scales with r. The index is built once OUTSIDE the timing
      // (it is the stored artifact — that is the operator's entire
      // point); the measured stage is batch shingling + the corpus
      // probe + the internal pair pass.
      val idx = Dedup.minhashBandIndex(all, "doc_id", "text",
          numHashes = 32, bands = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count()
      val batch = all.filter(col("doc_id") < 250)
        .select((col("doc_id") + 90000000L).as("doc_id"), col("text"))
        .unionByName(all.filter(col("doc_id") >= 250 && col("doc_id") < 500)
          .select((col("doc_id") + 91000000L).as("doc_id"),
            concat(col("text"), lit(" trailing novel suffix tokens"))
              .as("text")))
      val (tAdm, nKept) = timed2(
        Dedup.incrementalAdmission(idx, all, batch, "doc_id", "text",
            numHashes = 32, bands = 16)
          .filter(col("keep")).count())
      report("incremental_admission", r, tAdm, nDocs, nKept)
      idx.unpersist()

      // q95 core: map-side boilerplate rewrite with a synthetic gram list
      // that never matches (the probe itself is what's measured). The
      // hash-set membership makes the rewrite O(words) per doc regardless
      // of the list size — topk10k must track topk100, not cost 100×.
      def bpGrams(n: Int) = (0 until n).map(i => s"bp${i}a bp${i}b bp${i}c")
      val (tBp1, _) = timed2(
        graft.operators.Boilerplate.removeNgrams(all, "text", bpGrams(100), 3)
          .agg(sum(col("n_removed_words"))).collect())
      report("boilerplate_topk100", r, tBp1, nDocs, -1L)
      val (tBp2, _) = timed2(
        graft.operators.Boilerplate.removeNgrams(all, "text", bpGrams(10000), 3)
          .agg(sum(col("n_removed_words"))).collect())
      report("boilerplate_topk10k", r, tBp2, nDocs, -1L)

      // q116 core: corpus-wide paragraph dedup on the paragraph-ified
      // corpus. Salting keeps cross-replica paragraphs distinct, so r×
      // data means r independent shards — winner election + reassembly
      // should track ~linear, never pair-quadratic.
      val paraDocs = all.select(col("doc_id"),
        expr("replace(text, ' the ', '\n\n')").as("text"))
      val (tPara, _) = timed2(
        Dedup.paragraphDedup(paraDocs, "doc_id", "text", minChars = 15)
          .agg(sum(length(col("text")))).collect())
      report("paragraph_dedup", r, tPara, nDocs, -1L)

      // q138 core: Bloom-bounded exact admission — the corpus folds into
      // one 128 KiB bitset (OR-merged partials, size INDEPENDENT of r),
      // incoming probes map-side, and only Bloom "maybes" pay the
      // anti-join. Corpus scales with r; incoming is one replica's even
      // docs (the realistic shape: the daily batch doesn't grow with the
      // archive). Flat-ish time per incoming row is the design claim.
      val (tBloom, nAdmitted) = timed2 {
        val incoming = all.filter(col("doc_id") < 10000000L &&
          col("doc_id") % 2 === 0)
        graft.operators.BloomAdmission.admitNew(
          all.filter(col("doc_id") % 2 =!= 0), incoming, "text",
          numBits = 1 << 20, numHashes = 7).count()
      }
      report("bloom_admission", r, tBloom, nDocs, nAdmitted)

      // streaming ingest throughput: the admission sink end-to-end —
      // corpus+index tables seeded at r× (the stored archive scales),
      // then N micro-batches of a FIXED incoming size drive the full
      // loop (LSH probe against the STORED index + atomic two-table
      // commit). Reported value = rows/s over the measured batches;
      // flat-ish per-batch time as r grows is the design claim the
      // batch bench could only infer.
      {
        import java.io.File
        import org.apache.commons.io.FileUtils
        import graft.iceberg.IcebergWriter
        import graft.operators.Dedup
        import graft.streaming.EventStream
        val cDir = graft.Scratch.dir(s"benchscale-adm-corpus-$r")
        val iDir = graft.Scratch.dir(s"benchscale-adm-index-$r")
        Seq(cDir, iDir).foreach(d => FileUtils.deleteQuietly(new File(d)))
        val corpusSeed = all.select(col("doc_id"), col("text"))
        val indexSeed = Dedup.minhashBandIndex(corpusSeed, "doc_id", "text",
          numHashes = 32, bands = 16)
        // the INDEX table is partitioned bucket[32](band_hash): the
        // admission sink pushes each batch's band_hash keys as an In
        // filter, so the per-batch probe file-prunes to the touched
        // buckets instead of scanning the whole index (IO ∝ batch)
        IcebergWriter.seedTable(spark, cDir, corpusSeed.schema)
        IcebergWriter.seedTable(spark, iDir, indexSeed.schema,
          Seq("band_hash" -> "bucket[32]"))
        IcebergWriter.append(spark, cDir, corpusSeed)
        IcebergWriter.append(spark, iDir, indexSeed)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val stream = mem.toDF.toDF("doc_id", "text")
        val q = EventStream.icebergAdmissionSink(stream, cDir, iDir,
            "doc_id", "text", numHashes = 32, bands = 16)
          .option("checkpointLocation", s"$cDir/_ckpt")
          .start()
        val batchRows = 200
        val nBatches = 3
        // clone texts sampled from the live corpus (true rejects);
        // bounded driver rows
        val cloneTexts = corpusSeed.select(col("text"))
          .limit(batchRows).collect().map(_.getString(0))
        try {
          // warm-up batch (stream start + first planner costs)
          mem.addData((0 until batchRows).map(i =>
            (80000000L + i, s"warmup novel document body $i words")): _*)
          q.processAllAvailable()
          val (tAdm2, _) = timed {
            (1 to nBatches).foreach { b =>
              // half clones of corpus docs (reject), half novel (admit) —
              // the realistic mix; ids unique per batch
              mem.addData((0 until batchRows).map { i =>
                val id = 90000000L + b * 1000000L + i
                if (i % 2 == 0) (id, s"novel stream doc $b-$i unique body")
                else (id, cloneTexts(i % cloneTexts.length))
              }: _*)
              q.processAllAvailable()
            }
            ()
          }
          val rowsPerSec = (nBatches * batchRows) / tAdm2
          report("stream_admission_rows_per_s", r, tAdm2, nDocs,
            rowsPerSec.toLong)
        } finally q.stop()
        Seq(cDir, iDir).foreach(d => FileUtils.deleteQuietly(new File(d)))
      }

      // q117 core: corpus TF-IDF top-k — explode + two partial-merged
      // aggregates + a word-key join + per-doc bounded window.
      val (tTf, nTf) = timed2(
        TfIdf.topTerms(all, "doc_id", "text", k = 3).count())
      report("tfidf_topk", r, tTf, nDocs, nTf)

      // q118 core: bigram-LM scoring — the MODEL side is FIXED (replica
      // 0's even docs, the realistic shape: the reference model does not
      // grow with the corpus); the scored corpus scales with r. Cost is
      // the map-side bigram build + two word-key joins.
      val lmRef = all.filter(col("doc_id") < 10000000L &&
        col("doc_id") % 2 === 0)
      val (tLm, _) = timed2(
        NgramLm.bigramScore(all, "doc_id", "text", lmRef, "text")
          .agg(sum(col("lm_score"))).collect())
      report("lm_score", r, tLm, nDocs, -1L)

      // q147 core: exact dedup, text-keyed vs fingerprint-keyed. The
      // CLAIM is shuffle-bytes: groupBy(text) ships document bodies
      // through the exchange; the default exactKeepFirstByHash groups
      // ONCE on (length, xxhash64, md5) — ~60 fixed bytes per row at
      // every duplicate rate (no sliver pass; that exists only under
      // verifyTextExact). A listener sums shuffle WRITE bytes per
      // variant; the reduction factor is the pinned number (time is
      // reported too but noisy at toy scale).
      def shuffled[A](f: => A): (Double, Long, A) = {
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            bytes.addAndGet(
              sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
        spark.sparkContext.addSparkListener(l)
        try {
          val (t, a) = timed(f)
          // listener events are async; a short drain keeps the byte sum
          // complete without reaching into the private listener bus
          Thread.sleep(300)
          (t, bytes.get(), a)
        } finally spark.sparkContext.removeSparkListener(l)
      }
      val (tText, bText, nUniq1) = shuffled(
        Dedup.exactKeepFirst(all, "text", "doc_id").count())
      val (tHash, bHash, nUniq2) = shuffled(
        Dedup.exactKeepFirstByHash(all, "text", "doc_id").count())
      require(nUniq1 == nUniq2,
        s"hash-keyed dedup must agree with text-keyed: $nUniq1 vs $nUniq2")
      report("exact_dedup_text_keyed", r, tText, nDocs, bText)
      report("exact_dedup_hash_keyed", r, tHash, nDocs, bHash)

      all.unpersist()

      // q85 core: int8-quantized brute-force ANN — queries FIXED (15
      // vectors), corpus side replicated rows. Quantization happens ONCE
      // outside the timing (the ingest-time shape): the measured stage is
      // the search pass over the persisted int8 column only.
      val emb0 = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val embAll = (0 until r).map { i =>
        if (i == 0) emb0
        else emb0.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("embedding",
          graft.functions.Similarity.quantizeInt8(col("embedding")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVecs = embAll.count()
      val (tQ, nQ) = timed2(
        graft.functions.Similarity.quantizedTopK(
          embAll.filter(col("vec_id") < 15), embAll, k = 10,
          preQuantized = true).count())
      report("quant_ann", r, tQ, nVecs, nQ)
      embAll.unpersist()

      // q94 core: SemDeDup with the auto-derived centroid count (k tracks
      // corpus size so the MEAN cluster stays ~maxCluster/4) and the
      // cluster-size cap. Replicas are sign-flip decorrelated: a per-
      // (dim, replica) ±1 mask applied to BOTH sides of every within-
      // replica pair preserves those inner products exactly, while
      // cross-replica cosines collapse to noise — r× means r independent
      // shards, the linear null. With k ∝ N the within-cluster pair work
      // is N·meanCluster, so healthy scaling is ~linear, never N².
      val semAll = (0 until r).map { i =>
        if (i == 0) emb0
        else emb0
          .withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
          .withColumn("embedding", transform(col("embedding"),
            (x, j) => when(pmod(xxhash64(j, lit(i)), lit(2)) === 0, x)
              .otherwise(x * lit(-1.0f))).cast("array<float>"))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSem = semAll.count()
      val (tSem, nSemKeep) = timed2(
        graft.functions.Similarity.semanticDedup(
            semAll, threshold = 0.9999, maxCluster = 500)
          .filter(col("keep")).count())
      report("semdedup", r, tSem, nSem, nSemKeep)

      // q156 core: the PERSISTED IVF index probe. The index (centroids +
      // identity(c_id)-partitioned posting lists, nCentroids ∝ √N — the
      // standard IVF sizing rule) is built once OUTSIDE the timing (it
      // is the stored artifact); the measured stage is what each query
      // batch pays: broadcast the centroid table, assign probes
      // map-side, In-prune the postings scan to the probed partitions,
      // score, rank. With k ∝ √N the probed fraction is nProbe/k, so
      // per-batch IO grows ∝ √N while the corpus grows ∝ N; the
      // ivf_index_pruning line records files_probed/files_total
      // directly — deterministic evidence, unlike toy wall-clock.
      val ivfDir = graft.Scratch.dir("benchscale-ivf")
      locally {
        val p = new org.apache.hadoop.fs.Path(ivfDir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
      val kCent = math.max(16, math.round(16 * math.sqrt(r.toDouble)).toInt)
      graft.operators.VectorIndex.build(spark, semAll, ivfDir,
        nCentroids = kCent)
      // a serving-sized batch (5 queries × nProbe 2 → ≤10 posting
      // lists): the probed fraction FALLS as k grows with the corpus,
      // which is the whole point of the layout
      val ivfQueries = semAll.filter(col("vec_id") < 5)
      val (tIvf, nIvf) = timed2(
        graft.operators.VectorIndex.topK(spark, ivfDir, ivfQueries,
          k = 10, nProbe = 2).count())
      report("ivf_indexed_ann", r, tIvf, nSem, nIvf)
      locally { // the probe's own centroid-id set vs all posting files
        val cents = graft.iceberg.IcebergTable(spark, s"$ivfDir/centroids")
          .toDF(spark)
        val cids = graft.functions.Similarity.ivfProbes(ivfQueries, cents, 2)
          .select(col("c_id")).distinct().collect().map(_.get(0))
        val t = graft.iceberg.IcebergTable(spark, s"$ivfDir/postings")
        val ft = t.planFiles().size
        val fp = t.planFiles(
          Seq(org.apache.spark.sql.sources.In("c_id", cids))).size
        println(s"""{"stage":"ivf_index_pruning","replicas":$r,""" +
          s""""files_total":$ft,"files_probed":$fp}""")
      }
      // q157 core: incremental admission of a FIXED-size batch against
      // the same stored index — the per-batch ingest cost a growing
      // vector corpus pays. 100 clones of corpus vectors (all flagged
      // dup_of_corpus, kept = 0): assignment is map-side, the corpus
      // read is the In-pruned posting scan of ≤100 touched cells, and
      // with k ∝ √N the touched FRACTION shrinks as the corpus grows —
      // per-batch time should stay ~flat while N grows 20×.
      val admBatch = semAll.filter(col("vec_id") < 100)
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
      val (tAnnAdm, nAnnKeep) = timed2(
        graft.operators.VectorIndex.admit(spark, ivfDir, admBatch)
          .filter(col("keep")).count())
      report("ann_admission", r, tAnnAdm, nSem, nAnnKeep)

      // streaming vector ingest: the ANN admission sink end-to-end —
      // corpus + IVF index seeded at r× (the stored archive scales),
      // then micro-batches of a FIXED 100 vectors drive the full loop
      // (pruned posting probe + corpus-anchored verify + atomic
      // two-table commit). rows/s over the measured batches; flat-ish
      // per-batch time as r grows is the design claim.
      {
        import java.io.File
        import org.apache.commons.io.FileUtils
        import graft.iceberg.IcebergWriter
        import graft.streaming.EventStream
        val vcDir = graft.Scratch.dir(s"benchscale-vadm-corpus-$r")
        val viDir = graft.Scratch.dir(s"benchscale-vadm-index-$r")
        Seq(vcDir, viDir).foreach(d => FileUtils.deleteQuietly(new File(d)))
        val vecSeed = semAll.select(col("vec_id"), col("embedding"))
        IcebergWriter.seedTable(spark, vcDir, vecSeed.schema)
        IcebergWriter.append(spark, vcDir, vecSeed)
        graft.operators.VectorIndex.build(spark, vecSeed, viDir,
          nCentroids = kCent)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Float])]
        val stream = mem.toDF.toDF("vec_id", "embedding")
        val q = EventStream.icebergVectorAdmissionSink(stream, vcDir, viDir)
          .option("checkpointLocation", s"$vcDir/_ckpt")
          .start()
        val batchRows = 100
        val nBatches = 3
        // clone vectors sampled from the live corpus (true rejects);
        // bounded driver rows
        val cloneVecs = vecSeed.limit(batchRows)
          .as[(Long, Array[Float])].collect().map(_._2)
        try {
          // warm-up batch (stream start + first planner costs): novels
          mem.addData((0 until batchRows).map(i =>
            (800000000L + i, cloneVecs(i % cloneVecs.length)
              .map(x => x + 7.7f))): _*)
          q.processAllAvailable()
          val (tVAdm, _) = timed {
            (1 to nBatches).foreach { b =>
              // half exact clones of corpus vectors (reject), half novel
              // (admit) — the realistic mix; ids unique per batch
              mem.addData((0 until batchRows).map { i =>
                val id = 900000000L + b * 1000000L + i
                if (i % 2 == 0) (id, cloneVecs(i % cloneVecs.length))
                else (id, cloneVecs(i % cloneVecs.length)
                  .map(x => x * 0.5f + b + i))
              }: _*)
              q.processAllAvailable()
            }
            ()
          }
          report("stream_vector_admission_rows_per_s", r, tVAdm, nSem,
            ((nBatches * batchRows) / tVAdm).toLong)
        } finally q.stop()
        Seq(vcDir, viDir).foreach(d => FileUtils.deleteQuietly(new File(d)))
      }
      semAll.unpersist()

      // q65 core: the MEASURED storage-partitioned join (table builds
      // excluded), orders/customer replicated with key remapping
      val spjSecs = spjJoin(spark, sfDir, r)
      report("spj_join", r, spjSecs, nDocs, -1L)

      // q90 core: incremental-MV refresh — the BASE TABLE scales with r,
      // the change batch is FIXED (1000 inserts + one 3-key equality
      // delete). Base build, seed-state materialization, and the change
      // commits all happen OUTSIDE the timing (they are the upstream
      // writer's cost); the measured stage is exactly what a daily
      // refresh pays: plan the changelog window from manifest diffs,
      // read the changed rows, fold into the state. Flat seconds across
      // r = the refresh reads changes, not the table.
      val mvSecs = incrementalMv(spark, sfDir, r)
      report("incremental_mv", r, mvSecs, nDocs, -1L)

      // q106 core: dynamic partition overwrite — the TABLE scales with r
      // (r fixed-size partitions), the REPLACED partition is fixed. The
      // daily re-materialization claim is that replacing one partition
      // of a 100 TB table costs the new files + manifest IO, so the
      // measured statement should stay flat as r grows.
      val poSecs = partitionOverwrite(spark, sfDir, r)
      report("partition_overwrite", r, poSecs, nDocs, -1L)
    }
    spark.stop()
  }

  private def partitionOverwrite(spark: SparkSession, sfDir: String, r: Int): Double = {
    import org.apache.hadoop.fs.Path
    import graft.iceberg.connector.GraftCatalog
    val warehouse = graft.Scratch.dir(s"benchscale-po-$r")
    val conf = spark.sessionState.newHadoopConf()
    new Path(warehouse).getFileSystem(conf).delete(new Path(warehouse), true)
    val ords = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice"))
    val big = (0 until r).map(i =>
        ords.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
          .withColumn("part", lit(s"p$i")))
      .reduce(_ unionByName _)
    big.createOrReplaceTempView("bs_po_src")
    spark.conf.set(s"spark.sql.catalog.bspo$r", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.bspo$r.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bspo$r.ns")
    spark.sql(
      s"""CREATE TABLE bspo$r.ns.ords
         |(o_orderkey BIGINT, o_totalprice DOUBLE, part STRING)
         |PARTITIONED BY (part)""".stripMargin)
    spark.sql(s"INSERT INTO bspo$r.ns.ords SELECT o_orderkey, o_totalprice, part FROM bs_po_src")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val (secs, _) = timed2(spark.sql(
        s"""INSERT OVERWRITE bspo$r.ns.ords
           |SELECT o_orderkey + 5000000000L, o_totalprice, part
           |FROM bs_po_src WHERE part = 'p0'""".stripMargin))
      secs
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  /** Core count label for the report lines (set by main from
    * SPARK_GRAFT_CPUS). */
  @volatile private var cpusLabel: String = "32"

  private def report(stage: String, replicas: Int, secs: Double,
                     nDocs: Long, rows: Long): Unit =
    println(s"""{"stage":"$stage","replicas":$replicas,""" +
      s""""secs":${math.round(secs * 1000) / 1000.0},"docs":$nDocs,""" +
      s""""rows":$rows,"cpus":$cpusLabel}""")

  private def spjJoin(spark: SparkSession, sfDir: String, r: Int): Double = {
    import org.apache.hadoop.fs.Path
    import graft.iceberg.connector.GraftCatalog
    val warehouse = graft.Scratch.dir(s"benchscale-warehouse-$r")
    val conf = spark.sessionState.newHadoopConf()
    new Path(warehouse).getFileSystem(conf).delete(new Path(warehouse), true)
    val cust = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_mktsegment"))
    val ords = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"))
    val maxCk = 10000000L
    def rep(df: DataFrame, cols: Seq[String]): DataFrame =
      if (r == 1) df
      else (0 until r).map { i =>
        cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * maxCk)))
      }.reduce(_ unionByName _)
    rep(cust, Seq("c_custkey")).createOrReplaceTempView("bs_customer")
    rep(ords, Seq("o_custkey", "o_orderkey")).createOrReplaceTempView("bs_orders")
    spark.conf.set(s"spark.sql.catalog.bscat$r", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.bscat$r.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bscat$r.ns")
    spark.sql(
      s"""CREATE TABLE bscat$r.ns.customer_b (c_custkey BIGINT, c_mktsegment STRING)
         |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
    spark.sql(
      s"INSERT INTO bscat$r.ns.customer_b SELECT * FROM bs_customer")
    spark.sql(
      s"""CREATE TABLE bscat$r.ns.orders_b (o_orderkey BIGINT, o_custkey BIGINT)
         |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(
      s"INSERT INTO bscat$r.ns.orders_b SELECT o_orderkey, o_custkey FROM bs_orders")
    val spjConfs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = spjConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    spjConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (secs, _) = timed2(spark.sql(
        s"""SELECT c.c_mktsegment, COUNT(*) AS n,
           |       CAST(SUM(o.o_orderkey) AS BIGINT) AS sk
           |FROM bscat$r.ns.customer_b c
           |JOIN bscat$r.ns.orders_b o ON c.c_custkey = o.o_custkey
           |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
        .collect())
      secs
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def incrementalMv(spark: SparkSession, sfDir: String, r: Int): Double = {
    import org.apache.hadoop.fs.Path
    import graft.iceberg.connector.GraftCatalog
    import graft.operators.IncrementalView
    val warehouse = graft.Scratch.dir(s"benchscale-mv-$r")
    val conf = spark.sessionState.newHadoopConf()
    new Path(warehouse).getFileSystem(conf).delete(new Path(warehouse), true)
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("long").as("l_orderkey"),
        col("l_quantity").cast("long").as("qty"), col("l_returnflag"))
    val big =
      if (r == 1) li
      else (0 until r).map(i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L)))
        .reduce(_ unionByName _)
    big.createOrReplaceTempView("bs_mv_src")
    spark.conf.set(s"spark.sql.catalog.bsmv$r", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.bsmv$r.warehouse", warehouse)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bsmv$r.ns")
    spark.sql(s"CREATE TABLE bsmv$r.ns.li AS SELECT * FROM bs_mv_src")
    val dir = s"$warehouse/ns/li"
    val keys = Seq("l_returnflag")
    val sums = Seq("qty" -> "sq")
    val t0 = new graft.iceberg.IcebergTable(dir, conf)
    val s0 = t0.metadata.snapshotLineage.last
    val state0 = IncrementalView
      .aggregateState(t0.atSnapshot(s0).toDF(spark), keys, sums)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    state0.count()
    // FIXED change batch regardless of r: 1000 inserts + 3 deleted keys
    spark.sql(
      s"""INSERT INTO bsmv$r.ns.li
         |SELECT l_orderkey + 77000000000, qty, l_returnflag
         |FROM bs_mv_src WHERE l_orderkey < 250""".stripMargin)
    spark.sql(
      s"DELETE FROM bsmv$r.ns.li WHERE l_orderkey IN (1, 2, 3)")
    // measured: changelog window plan + changed-row read + state fold —
    // timed2's second run re-plans the window from scratch (the fold is
    // a fresh DataFrame each call; only the seed state is cached)
    val (secs, _) = timed2 {
      val t1 = new graft.iceberg.IcebergTable(dir, conf)
      val changes =
        t1.changesBetween(spark, s0, t1.metadata.snapshotLineage.last)
      IncrementalView.refresh(state0, changes, keys, sums).collect()
    }
    state0.unpersist()
    secs
  }
}
