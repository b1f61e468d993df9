package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.queries.Td

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  /** The HOF formulation — the cross-checkable reference for
    * `Similarity.cosine`. */
  private def cosineHof(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (norm(a) * norm(b))

  private def norm(a: Column): Column = sqrt(Similarity.dot(a, a))

  /** Brute-force cosine top-k neighbors of `queryVec` (a one-row DataFrame
    * with column `qv`). The broadcast + TakeOrdered plan is the right shape
    * at any scale: no shuffle of the big side. */
  private def bruteForceTopK(em: DataFrame, idCol: String, vecCol: String,
                             queryVec: DataFrame, k: Int): DataFrame =
    em.crossJoin(broadcast(queryVec))
      .withColumn("cos", Similarity.cosine(col(vecCol), col("qv")))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** The HOF/literal form of `Similarity.ivfAssign` — one
    * zip_with+aggregate l2 fold per centroid under a struct array_min (ties
    * to the lowest list id).
    * Kept as the spec reference for the native kernel (same IEEE
    * left-to-right fold order, same low-id tiebreak). */
  private def ivfAssignHof(vec: Column,
                           centroids: Array[Array[Double]]): Column = {
    val dists = centroids.zipWithIndex.map { case (c, i) =>
      val d = aggregate(
        zip_with(vec, typedLit(c.toSeq), (x, y) => {
          val diff = x.cast("double") - y
          diff * diff
        }),
        lit(0.0), (acc, v) => acc + v)
      struct(d.as("d"), lit(i).as("list"))
    }
    array_min(array(dists: _*)).getField("list")
  }

  /** Squared-L2 distance from an array column to a literal centroid, as a
    * left-to-right fold (the summation order DuckDB's list_sum shares — the
    * oracle contract the IVF paths already prove at dim 64). */
  private def l2ToLit(vec: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(vec, typedLit(c.toSeq), (x, y) => {
        val diff = x.cast("double") - y
        diff * diff
      }),
      lit(0.0), (acc, v) => acc + v)

  /** The HOF/literal form of `Similarity.pqEncode` — one
    * zip_with+aggregate l2 fold per sub-centroid under array_min, a
    * ~1000-node expression tree per row.
    * Kept as the independently-derived reference the native kernel is
    * spec-asserted against (same IEEE fold order, same low-code tiebreak). */
  private def pqEncodeHof(vec: Column,
                          codebooks: Array[Array[Array[Double]]]): Column = {
    val subdim = codebooks(0)(0).length
    array(codebooks.zipWithIndex.map { case (cb, s) =>
      val sub = slice(vec, s * subdim + 1, subdim)
      val dists = cb.zipWithIndex.map { case (c, i) =>
        struct(l2ToLit(sub, c).as("d"), lit(i).as("c"))
      }
      array_min(array(dists: _*)).getField("c")
    }: _*)
  }

  test("cosine: self=1, orthogonal=0, opposite=-1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(1f, 0f)),
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 0f), Seq(-1f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
  }

  test("brute-force top-k: nearest first, deterministic tiebreak") {
    val em = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(0.9f, 0.1f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1f, 0f, 0f))).toDF("qv")
    val got = bruteForceTopK(em, "vec_id", "embedding", q, 2)
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 2L))
  }

  test("ANN via sign-LSH: query's own bucket contains it; recall vs brute force") {
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val brute = bruteForceTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10,
      nPlanes = 2, dim = 64)
      .collect().map(_.getLong(0)).toSet
    // 2 planes -> 4 buckets; same-bucket neighbors should include a decent
    // fraction of the true top-10 (deterministic: fixed seed + fixed data)
    assert(ann.nonEmpty)
    assert((ann intersect brute).size >= 2)
  }

  test("IVF: trained centroids route the query to lists containing true neighbors") {
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vecs = em.orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val centroids = Similarity.kmeansLocal(vecs, 4, 10)
    assert(centroids.length === 4)
    assert(centroids.forall(_.length === 64))
    val brute = bruteForceTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(
      em.filter(col("vec_id") =!= 0), "vec_id", "embedding", q, 10, centroids,
      nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty)
    assert((ivf intersect brute).size >= 3) // 2 of 4 lists probed
  }

  test("centroidsFor: deterministic artifact, cached across calls; kmeansLocal converges") {
    val c1 = Similarity.centroidsFor(spark, sf0001)
    val c2 = Similarity.centroidsFor(spark, sf0001)
    assert(c1 eq c2, "second call must hit the artifact cache")
    assert(c1.length === 8 && c1.forall(_.length === 64))
    // local Lloyd's on a separable toy set: centroids land on the clusters
    val vecs = Array(
      Array(0.0, 0.0), Array(0.1, 0.0), Array(0.0, 0.1),
      Array(10.0, 10.0), Array(10.1, 10.0), Array(10.0, 10.1))
    val cents = Similarity.kmeansLocal(vecs, 2, 10).map(_.toSeq).sortBy(_.head)
    assert(math.abs(cents(0)(0) - 0.0333) < 0.01)
    assert(math.abs(cents(1)(0) - 10.0333) < 0.01)
    // IVF probe with the artifact centroids returns a deterministic top-k
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val a = Similarity.ivfTopK(em.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", q, 10, c1, nProbe = 2).collect().map(_.getLong(0)).toSeq
    val b = Similarity.ivfTopK(em.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", q, 10, c1, nProbe = 2).collect().map(_.getLong(0)).toSeq
    assert(a === b && a.size === 10)
  }

  test("cosineNearDupPairs: self-similar pairs surface, ordered ids") {
    import spark.implicits._
    val em = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0.99f, 0.01f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupPairs(em, "vec_id", "embedding",
      threshold = 0.9, nPlanes = 2, dim = 4).collect()
    val ids = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    assert(!ids.exists { case (a, b) => a == 3L || b == 3L })
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("RefreshingDict: TTL-driven reload, broadcast lookup join") {
    import spark.implicits._
    var tick = 0L
    var version = 0
    val dict = new graft.store.RefreshingDict(
      load = () => { version += 1; Seq((1L, s"v$version")).toDF("k", "name") },
      ttlSeconds = 300, clock = () => tick)
    val fact = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val first = dict.lookup(fact, Seq("k")).orderBy("k").collect()
    assert(first.map(r => Option(r.getAs[String]("name"))).toSeq === Seq(Some("v1"), None))
    tick = 100 // within TTL: no reload
    dict.lookup(fact, Seq("k")).collect()
    assert(dict.loadCount === 1)
    tick = 400 // TTL lapsed: reload picks up v2
    val second = dict.lookup(fact, Seq("k")).orderBy("k").collect()
    assert(dict.loadCount === 2)
    assert(second(0).getAs[String]("name") === "v2")
    // the lookup plan broadcasts the dictionary side
    val plan = dict.lookup(fact, Seq("k")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("lshBucket: deterministic and within range") {
    val ps = Similarity.planes(4, 3, seed = 7)
    val df = Seq(Tuple1(Seq(1f, 2f, 3f)), Tuple1(Seq(-1f, -2f, -3f))).toDF("v")
    val got1 = df.select(Similarity.lshBucket(col("v"), ps)).collect().map(_.getLong(0))
    val got2 = df.select(Similarity.lshBucket(col("v"), ps)).collect().map(_.getLong(0))
    assert(got1.toSeq === got2.toSeq)
    assert(got1.forall(b => b >= 0 && b < 16))
  }

  test("multi-probe LSH: recall >= single-probe at the same plane count") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val body = em.filter(col("vec_id") =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val truth = ids(bruteForceTopK(body, "vec_id", "embedding", q, 10))
    val single = ids(Similarity.annTopK(body, "vec_id", "embedding", q, 10, nPlanes = 8, dim = 64))
    val multi = ids(Similarity.annTopKMultiProbe(body, "vec_id", "embedding", q, 10, nPlanes = 8, dim = 64))
    assert((multi & truth).size >= (single & truth).size)
    assert(multi.nonEmpty)
  }

  test("IVF write-time index: probes prune partitions and agree with ivfTopK") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val body = em.filter(col("vec_id") =!= 0)
    val cents = Similarity.centroidsFor(spark, sf0001)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString

    Similarity.ivfWriteIndex(body, "vec_id", "embedding", cents, idx)
    // one directory per non-empty list
    val listDirs = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list=")).map(_.getName)
    assert(listDirs.nonEmpty && listDirs.length <= 8)

    val indexed = Similarity.ivfTopKIndexed(
      spark, idx, "vec_id", "embedding", q, k = 10, cents, nProbe = 2)
    // partition pruning: the index scan carries a literal `list IN` partition
    // filter, so unprobed list directories are never opened
    val planStr = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))

    // same answer as the join-shaped ivfTopK over the raw table
    val direct = Similarity.ivfTopK(body, "vec_id", "embedding", q, 10, cents, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex === direct)
  }

  test("batched IVF probes: per-query results equal the single-query path") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
    val cents = Similarity.centroidsFor(spark, sf0001)
    val idx = Similarity.indexPathFor(spark, sf0001, cents)
    val qs = em.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = Similarity.ivfTopKIndexedBatch(spark, idx, "vec_id", "embedding",
      qs, k = 5, cents, nProbe = 2, scanFilter = Some(col("vec_id") >= 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val q = em.filter(col("vec_id") === qid).select(col("embedding").as("qv"))
      val single = Similarity.ivfTopKIndexed(spark, idx, "vec_id", "embedding",
        q, k = 5, cents, nProbe = 2, scanFilter = Some(col("vec_id") >= 4))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) === single, s"qid=$qid")
    }
    // one scan serves all queries: the probe side is broadcast, so the plan
    // has exactly one parquet scan of the index
    val plan = Similarity.ivfTopKIndexedBatch(spark, idx, "vec_id", "embedding",
      qs, k = 5, cents, nProbe = 2, scanFilter = Some(col("vec_id") >= 4))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan.take(800))
  }

  test("indexPathFor: cache keyed on centroid fingerprint, not just dir") {
    val c1 = Similarity.centroidsFor(spark, sf0001)
    val p1 = Similarity.indexPathFor(spark, sf0001, c1)
    assert(Similarity.indexPathFor(spark, sf0001, c1) === p1,
      "same dir + same centroids must reuse the built index")
    // same dir, different centroids: must NOT return the stale index
    val c2 = c1.map(_.map(_ + 1.0))
    val p2 = Similarity.indexPathFor(spark, sf0001, c2)
    assert(p2 !== p1)
  }

  test("append index: base build + appended delta answers equal the full-build index") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cents = Similarity.centroidsFor(spark, sf0001)
    val full = Similarity.indexPathFor(spark, sf0001, cents)
    val app = Similarity.appendIndexPathFor(spark, sf0001, cents)
    val viaAppend = Similarity.ivfTopKIndexed(
      spark, app, "vec_id", "embedding", q, k = 10, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaFull = Similarity.ivfTopKIndexed(
      spark, full, "vec_id", "embedding", q, k = 10, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaAppend === viaFull,
      "append-maintained index must answer exactly like a full rebuild")
    // idempotent across calls: same cached path, no double append
    assert(Similarity.appendIndexPathFor(spark, sf0001, cents) === app)
    val total = Similarity.ivfIndexStats(spark, app)
      .agg(sum("n")).head.getLong(0)
    assert(total === em.filter(col("vec_id") =!= 0).count())
  }

  test("append index stats: per-list counts equal direct kernel assignment") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
      .filter(col("vec_id") =!= 0)
    val cents = Similarity.centroidsFor(spark, sf0001)
    val app = Similarity.appendIndexPathFor(spark, sf0001, cents)
    val got = Similarity.ivfIndexStats(spark, app)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = em
      .withColumn("list", Similarity.ivfAssign(col("embedding"), cents))
      .groupBy("list").count()
      .collect()
      .map(r => (r.getAs[Number]("list").longValue, r.getLong(1))).toMap
    assert(got === want)
  }

  test("buildAppendIndex: half-built dir (base written, no delta marker) is wiped and rebuilt; marker makes re-entry a no-op") {
    val em = graft.queries.Td.t(spark, sf0001, "embeddings")
      .filter(col("vec_id") =!= 0)
    val cents = Similarity.centroidsFor(spark, sf0001)
    val isDelta = pmod(col("vec_id"), lit(5)) === 4
    val base = em.filter(!isDelta)
    val delta = em.filter(isDelta)
    val path = java.nio.file.Files.createTempDirectory("graft_appidx_t").toString
    // simulate a crash after the base phase: base written, delta never landed
    Similarity.ivfWriteIndex(base, "vec_id", "embedding", cents, path)
    Similarity.buildAppendIndex(spark, base, delta, "vec_id", "embedding",
      cents, path)
    val total1 = Similarity.ivfIndexStats(spark, path)
      .agg(sum("n")).head.getLong(0)
    assert(total1 === em.count(),
      "recovery must not double the base rows the crashed attempt wrote")
    // marker present: a second call must not append again
    Similarity.buildAppendIndex(spark, base, delta, "vec_id", "embedding",
      cents, path)
    val total2 = Similarity.ivfIndexStats(spark, path)
      .agg(sum("n")).head.getLong(0)
    assert(total2 === total1)
  }

  test("native CosineSim is bit-identical to the HOF fold, incl. edge cases") {
    import org.apache.spark.sql.functions.col
    // real corpus: every pair (v_i, query) must match the fold EXACTLY
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = em.crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select(
        Similarity.cosine(col("embedding"), col("qv")).as("native"),
        cosineHof(col("embedding"), col("qv")).as("hof"))
    assert(both.filter(
      !(col("native") === col("hof")) &&
        !(org.apache.spark.sql.functions.isnan(col("native")) &&
          org.apache.spark.sql.functions.isnan(col("hof")))).count() === 0L)
    // the native path really is codegen'd: execute a native-only projection
    // and read the FINAL adaptive plan (the initial one hides WSCG)
    val nat = em.crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select(Similarity.cosine(col("embedding"), col("qv")).as("native"))
    nat.collect()
    val plan = nat.queryExecution.executedPlan.toString
    // the '*(n)' prefix is how the tree renders a WholeStageCodegen span
    assert("\\*\\(\\d+\\) Project \\[.*Kernels\\.cosineSim\\(".r.findFirstIn(plan).isDefined,
      plan.take(600))

    // edges: length mismatch -> null on both forms (zip_with pad
    // semantics); zero-norm/empty -> native yields NULL (NOT NaN: Spark
    // orders NaN above every double, so NaN would silently rank first in
    // desc top-ks and pass >= filters) where the HOF form under ANSI mode
    // THROWS DIVIDE_BY_ZERO (the native loop is total)
    val mm = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("n"),
        cosineHof(col("a"), col("b")).as("h")).collect()(0)
    assert(mm.isNullAt(0) && mm.isNullAt(1))
    val edge = Seq(
      (Array(0f), Array(0f)),                         // zero norm
      (Array.empty[Float], Array.empty[Float]))       // empty
      .toDF("a", "b")
    val nEdge = edge.select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(nEdge.forall(_.isNullAt(0)))
    intercept[Exception] { // ANSI divide-by-zero: the fold was partial here
      edge.select(cosineHof(col("a"), col("b"))).collect()
    }
    // a degenerate embedding must NOT win a desc top-k or pass a threshold
    val ranked = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 0f)))
      .toDF("id", "v")
      .select(col("id"), Similarity.cosine(col("v"),
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1f),
          org.apache.spark.sql.functions.lit(0f))).as("cos"))
    assert(ranked.orderBy(col("cos").desc).first().getLong(0) === 1L)
    assert(ranked.filter(col("cos") >= 0.5).count() === 1L)
    // SQL surface registration
    graft.functions.GraftExpressions.register(spark)
    edge.createOrReplaceTempView("cs_edges")
    assert(spark.sql("SELECT cosine_sim(a, b) FROM cs_edges").count() === 2)
  }

  test("indexPathFor: warehouse URI on the Hadoop FS API, probed through the index") {
    val c1 = Similarity.centroidsFor(spark, sf0001)
    val wh = "file:" + java.nio.file.Files
      .createTempDirectory("graft_ivf_wh").toString
    val p1 = Similarity.indexPathFor(spark, sf0001, c1, warehouse = Some(wh))
    assert(p1.startsWith(wh))
    val fs = new org.apache.hadoop.fs.Path(p1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p1/_SUCCESS")))
    assert(Similarity.indexPathFor(spark, sf0001, c1, warehouse = Some(wh)) === p1)
    // the warehouse-built index answers queries like the temp one
    import org.apache.spark.sql.functions.col
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = em.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val got = Similarity.ivfTopKIndexed(spark, p1, "vec_id", "embedding",
      q, k = 5, c1)
    assert(got.count() === 5)
  }

  test("PQ: codes well-formed, histogram conserves mass, full-rerank equals brute force") {
    import org.apache.spark.sql.functions.{col, sum}
    val cbs = Similarity.pqCodebooksFor(spark, sf0001)
    assert(cbs.length === 8 && cbs.forall(_.length === 16) &&
      cbs.forall(_.forall(_.length === 8)))
    val em = Td.t(spark, sf0001, "embeddings")
    val codes = em.select(Similarity.pqEncode(col("embedding"), cbs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // native kernel == the independently-derived HOF/literal form, every
    // vector (same IEEE fold order + low-code tiebreak)
    val hof = em.select(pqEncodeHof(col("embedding"), cbs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.toSeq === hof.toSeq)
    // every (vector, subspace) lands in exactly one histogram cell
    val n = em.count()
    val hist = Similarity.pqCodeHistogram(em, "embedding", cbs)
    assert(hist.agg(sum("cnt")).head.getLong(0) === n * 8)
    // with rerank >= corpus the ADC cut keeps everything, so the exact
    // re-rank must reproduce brute force bit-for-bit — the lossless anchor
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val rest = em.filter(col("vec_id") =!= 0)
    val brute = bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .withColumn("cos", org.apache.spark.sql.functions.round(col("cos"), 6))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.pqTopKAdc(rest, "vec_id", "embedding", q, 10, cbs,
        rerank = n.toInt)
      .select("vec_id", "cos")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq === brute.toSeq)
  }

  test("ivfAssign: native kernel equals the HOF/literal reference on every vector") {
    import org.apache.spark.sql.functions.col
    val cents = Similarity.centroidsFor(spark, sf0001)
    val em = Td.t(spark, sf0001, "embeddings")
    val native = em.orderBy("vec_id")
      .select(Similarity.ivfAssign(col("embedding"), cents).as("l"))
      .collect().map(_.getInt(0))
    val hof = em.orderBy("vec_id")
      .select(ivfAssignHof(col("embedding"), cents).as("l"))
      .collect().map(_.getInt(0))
    assert(native.toSeq === hof.toSeq)
    // null contract: short, OVERSIZED, and null vectors all assign to null —
    // an oversized vector must not silently file its first dim components
    // into a real list (and the HOF form would resolve it to list 0 via
    // zip_with null-padding: both are mistakable-for-valid, null is not)
    val bad = spark.createDataFrame(Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, null.asInstanceOf[Seq[Float]]),
      (3L, Seq.fill(cents(0).length + 1)(0.5f)))).toDF("id", "v")
    val got = bad.select(Similarity.ivfAssign(col("v"), cents).as("l"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(got.toSeq === Seq(None, None, None))
  }

  test("PQ: ADC at rerank=50 recovers most true neighbors; encode is deterministic") {
    import org.apache.spark.sql.functions.col
    val cbs = Similarity.pqCodebooksFor(spark, sf0001)
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val rest = em.filter(col("vec_id") =!= 0)
    val brute = bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.pqTopKAdc(rest, "vec_id", "embedding", q, 10, cbs,
      rerank = 50).collect().map(_.getLong(0)).toSet
    // 10% candidate budget on random 64-d vectors — the compressed scan
    // must still surface a majority of the true top-10
    assert((brute & pq).size >= 5, s"recall ${(brute & pq).size}/10")
    // encode determinism across plans/runs (the write-time contract)
    val c1 = Similarity.pqCodeHistogram(em, "embedding", cbs).collect().toSeq
    val c2 = Similarity.pqCodeHistogram(em.repartition(7), "embedding", cbs)
      .collect().toSeq
    assert(c1 === c2)
    // the pre-encoded (write-time) path answers exactly like inline encode
    val codedPath = java.nio.file.Files
      .createTempDirectory("graft_pq_codes").toString + "/codes.parquet"
    Similarity.pqWriteCodes(rest, "vec_id", "embedding", cbs, codedPath)
    val coded = spark.read.parquet(codedPath)
    val viaCodes = Similarity.pqTopKCoded(coded, rest, "vec_id", "embedding",
        q, 10, cbs, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val inline = Similarity.pqTopKAdc(rest, "vec_id", "embedding", q, 10, cbs,
        rerank = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(viaCodes === inline)
  }

  test("IVF-PQ: pruned partitions, unread vector column in the ADC stage, lossless at full rerank") {
    import org.apache.spark.sql.functions.col
    val cents = Similarity.centroidsFor(spark, sf0001)
    val cbs = Similarity.pqResidualCodebooksFor(spark, sf0001, cents)
    val idx = Similarity.ivfPqIndexPathFor(spark, sf0001, cents, cbs)
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // partition pruning: the query's scan opens only probed list dirs
    val got = Similarity.ivfPqTopK(spark, idx, "vec_id", "embedding", q,
      k = 10, cents, cbs, nProbe = 2, rerank = 50)
    val planStr = got.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(planStr).isDefined,
      planStr.take(1200))
    // the ADC candidate stage must not read the embedding column: its scan
    // schema carries only id + codes (parquet column projection). The stage
    // runs as tieInclusive's bounded TakeOrdered collect, so its scan is no
    // longer part of the final query's plan — assert on the factored stage.
    val qvArr = q.select("qv").head.getSeq[Float](0).toArray.map(_.toDouble)
    val adcPlan = Similarity.ivfPqAdcStage(
        spark, idx, "vec_id", qvArr, cents, cbs, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(adcPlan.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>"),
      adcPlan.take(1200))
    assert("PartitionFilters: \\[[^\\]]*list".r.findFirstIn(adcPlan).isDefined,
      adcPlan.take(1200))
    // with rerank >= probed rows, IVF-PQ degrades to exact IVF — bit-equal
    // to ivfTopKIndexed over the same probe lists
    val n = em.count().toInt
    val full = Similarity.ivfPqTopK(spark, idx, "vec_id", "embedding", q,
        k = 10, cents, cbs, nProbe = 2, rerank = n)
      .select("vec_id", "cos")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivfIdx = Similarity.indexPathFor(spark, sf0001, cents)
    val exact = Similarity.ivfTopKIndexed(spark, ivfIdx, "vec_id", "embedding",
        q, k = 10, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exact)
  }

  test("IVF-PQ residual codes rank INSIDE a duplicate cluster where flat codes tie-collapse") {
    import org.apache.spark.sql.functions.col
    // 4 well-separated bases x 100 jittered copies, jitter magnitude growing
    // with the copy index j and per-(b,j,i) decorrelated directions; ids
    // ANTI-correlated with j, so a tie-break by id inside a tied code cell
    // picks the WORST copies first. Flat codes quantize ABSOLUTE position:
    // every copy of a base shares one code, the tie population is the WHOLE
    // cluster (unbounded at corpus scale), and the id tie-break buries the
    // true neighbors — recall collapses (the 1M AnnProbe regime). Residual
    // codes shrink the tie population from cluster-sized to CODE-CELL-sized
    // (bounded by quantization, shrinks with ksub): the same rerank budget
    // then spans the low-jitter cells and recall survives. Query = the
    // clean base-0 vector (held out of the corpus).
    val dim = 16
    def sign(b: Int, j: Int, i: Int): Double =
      if ((((b * 131 + j * 313 + i * 719) * 2654435761L >>> 13) & 1L) == 0L)
        1.0 else -1.0
    val rows = for (b <- 0 until 4; j <- 1 to 100) yield {
      val v = Array.tabulate(dim)(i =>
        (if (i == b) 10.0 else 0.0) + j * 0.001 * sign(b, j, i))
      ((100L - j) * 4 + b, v.map(_.toFloat).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_respq").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val em = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = Seq(Tuple1(Array.tabulate(dim)(i => if (i == 0) 10.0f else 0.0f).toSeq))
      .toDF("qv")
    val truth = em.crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .select(col("vec_id"), Similarity.cosine(col("embedding"), col("qv")).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSet
    val cents = Similarity.centroidsFor(spark, dir, nLists = 4)
    val flatCbs = Similarity.pqCodebooksFor(spark, dir)
    val resCbs = Similarity.pqResidualCodebooksFor(spark, dir, cents)
    val idx = Similarity.ivfPqIndexPathFor(spark, dir, cents, resCbs,
      excludeId = None)
    val resGot = Similarity.ivfPqTopK(spark, idx, "vec_id", "embedding", q,
        k = 5, cents, resCbs, nProbe = 2, rerank = 50)
      .collect().map(_.getLong(0)).toSet
    val resRecall = (resGot & truth).size
    assert(resRecall >= 4, s"residual recall $resRecall/5 (got $resGot vs $truth)")
    // the mechanism: residual codes DISCRIMINATE inside the duplicate
    // cluster — base 0's copies spread across many code words (cells sized
    // by within-list variation), so no single cell's tie can swallow the
    // rerank budget the way a whole-cluster flat tie does
    val distinctResCodes = spark.read.parquet(idx)
      .filter(col("vec_id") % 4 === 0)
      .select(col("codes").cast("string")).distinct().count()
    assert(distinctResCodes > 10,
      s"expected many distinct residual code words in the cluster, got $distinctResCodes")
    val flatRecall = (Similarity.pqTopKAdc(em, "vec_id", "embedding", q,
        k = 5, flatCbs, rerank = 50)
      .collect().map(_.getLong(0)).toSet & truth).size
    assert(flatRecall >= 4, // tie-inclusive rerank rescues even flat codes
      s"tie-inclusive flat recall $flatRecall/5")
  }

  test("tie-inclusive rerank: a true neighbor tied at the cut boundary is never dropped") {
    import org.apache.spark.sql.functions.col
    // 100 IDENTICAL decoys (one code, one adc — a structural tie) with LOW
    // ids, plus one true nearest neighbor w inside the same code cell with
    // the HIGHEST id. A plain LIMIT-50 cut by (adc, id) keeps 50 decoys and
    // drops w; the RANK-semantics cut keeps the whole tied cell, and the
    // exact re-rank surfaces w first.
    val dim = 16
    val dup = Array.tabulate(dim)(i => if (i < 8) 8.0f else 1.0f)
    val w = Array.tabulate(dim)(i => dup(i) + (if (i >= 8) 0.02f else 0.01f))
    val qArr = Array.tabulate(dim)(i => dup(i) + (if (i >= 8) 0.03f else 0.015f))
    import spark.implicits._
    val em = ((1 to 100).map(i => (i.toLong, dup.toSeq)) :+ (500L, w.toSeq))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(qArr.toSeq)).toDF("qv")
    // codebooks train on a SEPARATE wide-spread corpus (the production
    // situation: a global sample can't adapt a cell to every micro-cluster),
    // so dup and w — 0.02 apart inside cells ~1 unit wide — share one code
    val dir = java.nio.file.Files.createTempDirectory("graft_tiecut").toString
    (0 until 256).map(t => (t.toLong,
        Array.tabulate(dim)(i => (((t * 31 + i * 17) % 97) / 6.0).toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cbs = Similarity.pqCodebooksFor(spark, dir)
    // same code cell => same adc: the premise of the tie
    val codes = em.select(Similarity.pqEncode(col("embedding"), cbs).cast("string"))
      .distinct().count()
    assert(codes === 1L, s"fixture must collapse to one code word, got $codes")
    val top = Similarity.pqTopKAdc(em, "vec_id", "embedding", q,
        k = 3, cbs, rerank = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(top.head === 500L, s"true neighbor beyond the id cut must win: $top")
  }

  test("sq8: reconstruction error bounded by sc/510 per element; constants exact") {
    val em = Td.t(spark, sf0001, "embeddings").limit(200)
    val rows = em.select(col("embedding"),
        Similarity.sq8Decode(Similarity.sq8Encode(col("embedding"))).as("dq"),
        Similarity.sq8Encode(col("embedding")).getField("sc").as("sc"))
      .collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](0); val dq = r.getSeq[Float](1)
      val sc = r.getDouble(2)
      assert(orig.length == dq.length)
      orig.zip(dq).foreach { case (o, d) =>
        // half-step rounding bound plus float-cast slack
        assert(math.abs(o - d) <= sc / 510.0 + 1e-4, s"err ${math.abs(o - d)} sc $sc")
      }
    }
    // constant vector: sc defaults to 1, all codes 0, dequant == mn exactly
    val const = Seq(Seq(2.5f, 2.5f, 2.5f)).toDF("v")
      .select(Similarity.sq8Encode(col("v")).as("q"))
      .select(col("q.sc"), col("q.codes"),
        Similarity.sq8Decode(col("q")).as("dq")).collect()(0)
    assert(const.getDouble(0) == 1.0)
    assert(const.getSeq[Int](1).forall(_ == 0))
    assert(const.getSeq[Float](2).forall(_ == 2.5f))
  }

  test("sq8TopK degenerates to the exact scan at rerank >= corpus; sane at 50") {
    val em = Td.t(spark, sf0001, "embeddings")
    val q = em.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val corpus = em.filter(col("vec_id") =!= 0)
    val n = corpus.count().toInt
    val exact = bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .withColumn("cos", round(col("cos"), 6))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.sq8TopK(corpus, "vec_id", "embedding", q, 10, rerank = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === exact)
    // the default rerank keeps high overlap (8-bit cosine is a tight proxy)
    val approx = Similarity.sq8TopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert((approx & exact.map(_._1).toSet).size >= 8, approx.toString)
    intercept[IllegalArgumentException] {
      Similarity.sq8TopK(corpus, "vec_id", "embedding", q, 10, rerank = 0)
    }
    // write-time split: the pre-encoded codes table answers identically
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8").toString
    Similarity.sq8WriteCodes(corpus, "vec_id", "embedding", s"$dir/codes")
    val coded = Similarity.sq8TopKCoded(
        spark.read.parquet(s"$dir/codes"), corpus, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val inline = Similarity.sq8TopK(corpus, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(coded === inline)
  }

  test("semDedup: keep-first within a cluster; cross-cluster pairs never compared") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // a/b: near-identical, both cluster 0 -> b (higher id) dropped.
    // c/d: cos ~0.9945 but straddle the cluster boundary -> BOTH kept (the
    // published SemDeDup recall property: cluster-boundary blindness).
    // e: cluster 1, dissimilar to everything -> kept.
    val em = Seq(
      (1L, Seq(1f, 0.01f)), (2L, Seq(1f, 0.02f)),
      (3L, Seq(1f, 0.9f)), (4L, Seq(0.9f, 1f)),
      (5L, Seq(-0.1f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(em, "vec_id", "embedding", cents, 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L) === ((0, 1)) && got(2L) === ((0, 0)))
    assert(got(3L) === ((0, 1)) && got(4L) === ((1, 1)))
    assert(got(5L) === ((1, 1)))
  }

  test("clusterBalancedSample: sqrt-flattened integer rates, audit sums to corpus") {
    val em = Td.t(spark, sf0001, "embeddings")
    val cents = Similarity.centroidsFor(spark, sf0001)
    val got = Similarity.clusterBalancedSample(em, "vec_id", "embedding", cents)
      .collect()
    assert(got.map(_.getLong(1)).sum === em.count())
    got.foreach { r =>
      val (n, rate, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val w = math.floor(math.sqrt(n.toDouble) * 1000).toLong
      assert(rate === math.min(100L, w * 4 / (n * 10)))
      assert(kept <= n)
      // sqrt allocation: a list's keep rate shrinks as the list grows
      assert(rate >= 1L, s"rate collapsed to 0 for n=$n")
    }
    // bigger lists get strictly smaller-or-equal rates (the flattening)
    val byN = got.sortBy(_.getLong(1)).map(_.getLong(2))
    assert(byN.zip(byN.tail).forall { case (a, b) => a >= b })
  }
}
