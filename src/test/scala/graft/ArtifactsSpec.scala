package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Dsir, Lm, Similarity}
import graft.queries.{ExtQueries, Mvs, Queries}
import graft.streaming.{StreamStage, StreamingIngest}

/** Every artifact kind behind [[Artifacts]] rebuilds when its input is
  * rewritten in place, and the rebuild equals a build from scratch on the
  * new data; nested builds work and a repeat lookup costs no build and no
  * Spark job; and no hand-rolled cache map comes back in `src/main`. */
class ArtifactsSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def stored(path: String): Seq[String] = rows(spark.read.parquet(path))
  private def deep(x: Any): Any = x match {
    case a: Array[_] => a.toSeq.map(deep)
    case other => other
  }

  /** A fresh dir holding `table` — the sf0.001 file, or `f` of it written
    * by Spark. */
  private def dirWith(table: String, f: DataFrame => DataFrame = null): String = {
    val dir = Files.createTempDirectory("graft_artifacts_spec").toString
    if (f == null) Files.copy(Paths.get(sf0001, s"$table.parquet"), Paths.get(dir, s"$table.parquet"))
    else f(spark.read.parquet(s"$sf0001/$table.parquet")).write.parquet(s"$dir/$table.parquet")
    dir
  }

  /** Rewrite `dir/table.parquet` in place as `f` of the sf0.001 table. */
  private def rewrite(dir: String, table: String, f: DataFrame => DataFrame): Unit = {
    val tmp = s"$dir/rewrite_tmp"
    f(spark.read.parquet(s"$sf0001/$table.parquet")).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$table.parquet"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")))
  }

  // adds exact duplicates of a fifth of the corpus under new ids: new
  // near-dup pairs, links, LM/DSIR samples and counts for every docs kind
  private val moreDocs: DataFrame => DataFrame = d =>
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  private val halfVecs: DataFrame => DataFrame = _.filter(col("vec_id") % 2 === 0)
  private lazy val cents = Similarity.centroidsFor(spark, sf0001)
  private lazy val codebooks = Similarity.pqResidualCodebooksFor(spark, sf0001, cents)

  /** (kinds, input table, rewrite, use): `use` looks the artifact up for a
    * dir and returns it as a comparable value. Models that depend on other
    * artifacts take those from sf0.001, so only the input's fingerprint
    * can tell the two uses apart. */
  private val kinds: Seq[(String, String, DataFrame => DataFrame, String => Any)] = Seq(
    ("schema", "orders", _.withColumn("extra", lit(1)),
      d => Scratch.readCachedSchema(spark, s"$d/orders.parquet").columns.toSeq),
    ("band_store", "documents", moreDocs,
      d => stored(Dedup.bandStorePathFor(spark, d, "doc_id", "text", 1L << 40))),
    ("shingle_store + doc_count + capped_universe", "documents", moreDocs,
      d => rows(Dedup.prefixJoinPairsFromStore(spark, d, "doc_id", "text")) ++
        rows(Dedup.containmentPairsFromStore(spark, d, "doc_id", "text"))),
    ("near_dup_pairs", "documents", moreDocs,
      d => rows(Dedup.nearDupPairsFromStore(spark, d, "doc_id", "text"))),
    ("bigram_lm", "documents", moreDocs, d => Lm.bigramLmFor(spark, d)),
    ("trigram_lm", "documents", moreDocs, d => Lm.trigramLmFor(spark, d)),
    ("ccnet_cutoffs", "documents", moreDocs,
      d => Lm.ccnetCutoffsFor(spark, d, Lm.bigramLmFor(spark, sf0001))),
    ("dsir_model", "documents", moreDocs, d => Dsir.modelFor(spark, d)),
    ("centroids", "embeddings", halfVecs, d => deep(Similarity.centroidsFor(spark, d))),
    ("pq_codebooks", "embeddings", halfVecs, d => deep(Similarity.pqCodebooksFor(spark, d))),
    ("pq_residual_codebooks", "embeddings", halfVecs,
      d => deep(Similarity.pqResidualCodebooksFor(spark, d, cents))),
    ("ivf_idx", "embeddings", halfVecs,
      d => stored(Similarity.indexPathFor(spark, d, cents))),
    ("ivf_appidx", "embeddings", halfVecs,
      d => stored(Similarity.appendIndexPathFor(spark, d, cents))),
    ("ivfpq_idx", "embeddings", halfVecs,
      d => stored(Similarity.ivfPqIndexPathFor(spark, d, cents, codebooks))),
    ("links_fixture", "documents", moreDocs, d => rows(ExtQueries.fixtureLinks(spark, d))),
    ("anchors_fixture", "documents", moreDocs, d => rows(ExtQueries.fixtureAnchors(spark, d))),
    ("frontier_fixture", "documents", moreDocs,
      d => rows(ExtQueries.fixtureFrontier(spark, d))),
    ("domain_rank_fixture", "documents", moreDocs,
      d => rows(ExtQueries.fixtureDomainRank(spark, d))),
    // the staged rows; where the range split falls depends on file layout
    ("stream_chunks", "documents", moreDocs,
      d => StreamStage.stagedParts(spark, s"$d/documents.parquet", 2)
        .flatMap(p => stored(p.toString)).sorted),
    // flat_stream_mv's staging: keyed by the orders table it reads
    ("stream_chunks (flatten)", "orders", _.filter(col("o_orderkey") % 2 === 0),
      d => rows(Mvs.readMv(spark.read.parquet(
        StreamingIngest.flattenFileRun(spark, Queries.syntheticEnvelopes(spark, d), chunks = 2,
          stageInputs = Seq(s"$d/orders.parquet")) + "/mv_daily_block_stats")
        .drop("ingest_batch"), Seq("date")))))

  for ((kind, table, f, use) <- kinds)
  test(s"Artifacts $kind: an in-place rewrite of $table rebuilds it") {
    val dir = dirWith(table)
    val before = use(dir)
    rewrite(dir, table, f)
    val after = use(dir)
    val fresh = use(dirWith(table, f))
    assert(after != before, "the rewritten input served the artifact of the old data")
    assert(after == fresh)
  }

  test("Artifacts: nested builds succeed; a repeat lookup runs no build and no Spark job") {
    val dir = dirWith("documents")
    val docs = s"$dir/documents.parquet"
    var builds = Seq.empty[String]
    def inner(): String = Artifacts.stored(spark, "spec_inner", Nil, Seq(docs), None) { p =>
      builds :+= "inner"
      spark.read.parquet(docs).select("doc_id").write.parquet(p)
    }
    def outer(): String = Artifacts.stored(spark, "spec_outer", Nil, Seq(docs), None) { p =>
      builds :+= "outer"
      spark.read.parquet(inner()).write.parquet(p)
    }
    def model(): Long = Artifacts.memo(spark, "spec_model", Nil, Seq(docs)) {
      builds :+= "model"
      spark.read.parquet(outer()).count()
    }
    assert(model() === 500L)
    assert(builds === Seq("model", "outer", "inner"))
    // the fixtures nest the same way: frontier and domain rank build links
    ExtQueries.fixtureFrontier(spark, dir); ExtQueries.fixtureDomainRank(spark, dir)

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val paths = (outer(), inner())
      assert(model() === 500L)
      assert(outer() === paths._1 && inner() === paths._2)
      ExtQueries.fixtureFrontier(spark, dir); ExtQueries.fixtureDomainRank(spark, dir)
      Scratch.readCachedSchema(spark, docs)
      // the listener bus delivers in order: once the marker job arrives,
      // every job the lookups started has been seen
      spark.sparkContext.setJobDescription("artifacts-marker")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("artifacts-marker") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(builds === Seq("model", "outer", "inner"))
    import scala.jdk.CollectionConverters._
    assert(jobs.asScala.nonEmpty && jobs.asScala.forall(_ == "artifacts-marker"), jobs)
  }

  test("Artifacts is the only JVM-wide cache map in src/main") {
    val pattern = """TrieMap\.empty|new (java\.util\.concurrent\.)?ConcurrentHashMap""".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val hits = files(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Artifacts.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toSeq.filter(l => pattern.findFirstIn(l).isDefined)
          .map(l => s"${f.getName}: ${l.trim}")
        finally src.close()
      }
    // Pipeline's per-warehouse stamp counter is not an artifact
    assert(hits === Seq("Pipeline.scala: scala.collection.concurrent.TrieMap.empty[String, " +
      "java.util.concurrent.atomic.AtomicLong]"))
  }
}
