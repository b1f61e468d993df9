package graft.ladders

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Probe, Scratch}
import graft.ext.Similarity

/** Scale ladder for the similarity/ANN stack
  * (`graft.Probe ann [nVecs=100000] [nLists=32]`): synthesize an N-vector
  * corpus (50–500× the shipped embeddings) and measure the three costs that
  * define the 100 TB story — brute-force exact top-k (the baseline every
  * ANN must beat), the one-off IVF index build, and the partition-pruned
  * indexed probe — plus recall@k of each route against the exact answer
  * (speed that loses the neighbors is worthless).
  *
  * Synthesis: each base vector is copied `N/|base|` times; copy 0 keeps the
  * original values, copies >= 1 add deterministic per-(vector, copy,
  * dimension) jitter of ±1% of the component scale — local neighborhoods
  * stay intact (copies of v are v's near-neighbors), which is exactly the
  * clustered topology IVF exploits and the worst case for its list-boundary
  * recall.
  */
object Ann {
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Probe.Fields = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val nLists = args.lift(1).map(_.toInt).getOrElse(32)
    val k = 10
    val r = new Probe.Receipt

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val nBase = base.count()
    val copies = math.max(1L, n / nBase)

    val dir = Scratch.dir("graft_ann_vecs")
    base.join(spark.range(copies).toDF("k"))
      .select(
        (col("vec_id") * copies + col("k")).as("vec_id"),
        expr("CASE WHEN k = 0 THEN embedding ELSE " +
          "transform(embedding, (x, i) -> CAST(x + " +
          "(pmod(hash(vec_id, k, i), 1000) - 500) / 50000.0 AS FLOAT)) END")
          .as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val nVecs = vecs.count()
    r.add("n_vecs", nVecs)
    r.add("n_lists", nLists)
    r.add("k", k)

    val q = vecs.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq

    // exact baseline: one scan, per-partition top-k via the orderBy+limit
    // plan (TakeOrderedAndProject — partial top-k per partition, k rows to
    // the driver per partition)
    val bruteIds = r.timed("brute") {
      ids(vecs.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(k))
    }
    def recall(got: Seq[Long]): Double = got.count(bruteIds.contains).toDouble / k

    // one-off artifact costs: centroid training (bounded sample) + the
    // write-time partitioned index
    val cents = r.timed("train") { Similarity.centroidsFor(spark, dir, nLists = nLists) }
    val idxPath = r.timed("build") { Similarity.indexPathFor(spark, dir, cents) }

    // per-query cost: driver-side centroid argmin -> literal IN over the
    // partition column -> pruned scan; then the recall/cost dial, doubling
    // the probed lists
    val probeIds = r.timed("probe") {
      ids(Similarity.ivfTopKIndexed(spark, idxPath, "vec_id", "embedding", q, k,
        cents, nProbe = 2))
    }
    r.add("recall_at_k", recall(probeIds))
    val probe4Ids = r.timed("probe4") {
      ids(Similarity.ivfTopKIndexed(spark, idxPath, "vec_id", "embedding", q, k,
        cents, nProbe = 4))
    }
    r.add("recall4_at_k", recall(probe4Ids))

    // how much of the corpus the pruned probe actually reads
    val listSizes = spark.read.parquet(idxPath).groupBy("list").count()
      .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
    val qv = q.head.getSeq[Float](0).toArray.map(_.toDouble)
    val probeLists = cents.zipWithIndex.map { case (c, i) =>
      (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(identity).take(2).map(_._2)
    r.add("scan_fraction",
      Probe.frac(probeLists.map(l => listSizes.getOrElse(l, 0L)).sum, nVecs))

    // INCREMENTAL MAINTENANCE rung: the daily-ingest shape — 90% of the
    // corpus is the existing index, the latest 10% wave is APPENDED
    // (assign + per-list file append, O(delta)) instead of rebuilding
    // (O(corpus)). The probe answer over the appended index must equal the
    // full index's — otherwise the saved build time bought a wrong index.
    val appPath = Scratch.dir("graft_ann_app")
    val isDelta = pmod(col("vec_id"), lit(10)) === 9
    r.timed("append_base") {
      Similarity.ivfWriteIndex(vecs.filter(col("vec_id") =!= 0 && !isDelta),
        "vec_id", "embedding", cents, appPath)
    }
    r.timed("append_delta") {
      Similarity.ivfAppendIndex(vecs.filter(col("vec_id") =!= 0 && isDelta),
        "vec_id", "embedding", cents, appPath)
    }
    val appIds = r.timed("append_probe") {
      ids(Similarity.ivfTopKIndexed(spark, appPath, "vec_id", "embedding", q, k,
        cents, nProbe = 2))
    }
    r.add("append_matches_full", appIds == probeIds)

    // BATCH mode: 64 query vectors through ONE pruned scan + equi-join
    // (ivfTopKIndexedBatch) vs 64 sequential single-query probes — the
    // production amortization claim, measured.
    val nBatch = 64
    val qBatch = vecs.filter(col("vec_id") < nBatch)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val (tBatch, batchRows) = Probe.time {
      Similarity.ivfTopKIndexedBatch(spark, idxPath, "vec_id", "embedding",
        qBatch, k, cents, nProbe = 2).count()
    }
    r.add("batch_n", nBatch)
    r.add("batch_rows", batchRows)
    r.add("batch_sec", tBatch)
    r.add("batch_per_query_sec", tBatch / nBatch)

    // sign-LSH ladder at 8 planes: single-probe, Hamming-1, Hamming-2 —
    // recall vs the exact brute top-k and the probe-cost trend (expected
    // scan fractions 1/256, 9/256, 37/256)
    val dim = qv.length
    val corpus = vecs.filter(col("vec_id") =!= 0)
    Seq(0 -> "lsh", 1 -> "lsh_h1", 2 -> "lsh_h2").foreach { case (maxH, name) =>
      val got = r.timed(name) {
        ids(if (maxH == 0)
          Similarity.annTopK(corpus, "vec_id", "embedding", q, k, 8, dim)
        else
          Similarity.annTopKMultiProbe(corpus, "vec_id", "embedding", q, k, 8,
            dim, maxHamming = maxH))
      }
      r.add(s"${name}_recall", recall(got))
    }

    // PQ rung: one-off codebook train + write-time encode (the ingest
    // cost), then the compressed-domain ADC query — scan reads 8 bytes/row
    // instead of 256 — with exact re-rank of the top-50. Recall vs brute on
    // jittered-copy topology (near-dups of the query share its codes, the
    // favorable case; the sf0.001 spec measures the clusterless worst case).
    val cbs = r.timed("pq_train") { Similarity.pqCodebooksFor(spark, dir) }
    val codedPath = s"$dir/pq_codes.parquet"
    r.timed("pq_encode") {
      Similarity.pqWriteCodes(corpus, "vec_id", "embedding", cbs, codedPath)
    }
    val coded = spark.read.parquet(codedPath)
    // the rerank dial under duplication: a duplicate cluster spans 1-2 code
    // cells with NO intra-cluster ADC signal (cells size to inter-cluster
    // distances), so recall requires rerank >= duplicate multiplicity —
    // here 2x the copy count, still ~0.1% of the corpus reranked exactly
    val dupRerank = (2 * copies).toInt.max(50)
    r.add("pq_dup_rerank", dupRerank)
    Seq(50 -> "pq", dupRerank -> "pq_dup").foreach { case (rerank, name) =>
      val got = r.timed(s"${name}_query") {
        ids(Similarity.pqTopKCoded(coded, corpus, "vec_id", "embedding", q, k, cbs,
          rerank = rerank))
      }
      r.add(s"${name}_recall", recall(got))
    }

    // residual IVF-PQ rung (the FAISS coarse+fine shape): codes quantize the
    // within-list residual, the query probes pruned partitions, and the
    // tie-inclusive rerank keeps whole ADC-tied cells — the duplicate-cluster
    // regime this corpus maximizes (copies of a vector share a code word).
    val resCbs = r.timed("ivfpq_train") {
      Similarity.pqResidualCodebooksFor(spark, dir, cents)
    }
    val resIdx = r.timed("ivfpq_build") {
      Similarity.ivfPqIndexPathFor(spark, dir, cents, resCbs)
    }
    Seq(50 -> "ivfpq", dupRerank -> "ivfpq_dup").foreach { case (rerank, name) =>
      val got = r.timed(s"${name}_query") {
        ids(Similarity.ivfPqTopK(spark, resIdx, "vec_id", "embedding", q, k,
          cents, resCbs, nProbe = 2, rerank = rerank))
      }
      r.add(s"${name}_recall", recall(got))
    }

    // SQ8 rung (r12): write-time codes, dequantized-domain cut + exact
    // re-rank; recall under duplication needs the same rerank dial as PQ
    val sq8Path = s"$dir/sq8_codes.parquet"
    r.timed("sq8_build") {
      Similarity.sq8WriteCodes(corpus, "vec_id", "embedding", sq8Path)
    }
    val sq8Codes = spark.read.parquet(sq8Path)
    Seq(50 -> "sq8", dupRerank -> "sq8_dup").foreach { case (rerank, name) =>
      val got = r.timed(s"${name}_query") {
        ids(Similarity.sq8TopKCoded(sq8Codes, corpus, "vec_id", "embedding", q, k,
          rerank = rerank))
      }
      r.add(s"${name}_recall", recall(got))
    }

    r.fields
  }
}
