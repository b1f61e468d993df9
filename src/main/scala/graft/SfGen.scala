package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from a driver-shipped one by key-offset
  * replication — the local stand-in for the sf1 dataset the driver does not
  * ship, so the FULL 145-query inventory can be benched at 10× sf0.1
  * (VERDICT r8 item 3), not just the dedup family the ScaleProbe ladder
  * covers.
  *
  * Replication semantics (one `copy` index k = 0..factor-1):
  *  - TPC-H-ish facts (customer/supplier/part/orders/lineitem/events):
  *    every key column — primary AND foreign — shifts by k·(max(key)+1) of
  *    its OWN key space, so referential joins land entirely within a copy
  *    and join fan-outs stay exactly those of the base corpus (10× rows ⇒
  *    10× matched pairs, the linear-scaling yardstick the bench is judged
  *    against). Dates/timestamps are kept: TPC-H scale factors grow row
  *    count at a fixed date range, so per-window densities rise 10× — the
  *    honest interpretation of "same queries, 10× data".
  *  - region/nation: copied verbatim (TPC-H dimensions are SF-invariant).
  *  - documents: copy 0 keeps the original text — preserving the base
  *    corpus's own near-dup structure — and copies ≥ 1 re-order words by a
  *    PER-DOCUMENT key (md5(word ⊕ base ⊕ copy)), exactly the ScaleProbe
  *    synthesis: reordered copies share no shingle RUNS with anything, so
  *    the pair-join population grows ∝ corpus instead of quadratically in
  *    the copy count (verbatim replication would square every duplicate
  *    group — a different, degenerate benchmark). Word multisets survive,
  *    so token/quality statistics stay realistic. n_chars is recomputed
  *    from the new text.
  *  - embeddings: vec_id shifts, vectors/labels copy verbatim (ANN cost is
  *    dimension × rows — value identity across copies changes nothing the
  *    bench measures; ties in top-k are broken by id as everywhere else).
  *
  * Usage: java -cp ... graft.SfGen <srcSfDir> <outDir> [factor=10]
  */
object SfGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.build(src)
    // one output file per core, as the source is replicated
    val cpus = spark.sparkContext.defaultParallelism

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[sfgen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // verbatim dims
    write(read("region"), "region")
    write(read("nation"), "nation")

    /** Cross with k = 0..factor-1 and shift each listed key by k·base(key),
      * base = max(key)+1 computed once from the source. */
    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val bases: Map[String, Long] = keys.map { k =>
        k -> (df.agg(max(col(k))).collect()(0).getLong(0) + 1L)
      }.toMap
      val crossed = df.join(spark.range(factor).toDF("__k"))
      keys.foldLeft(crossed) { (acc, k) =>
        acc.withColumn(k, col(k) + col("__k") * lit(bases(k)))
      }.drop("__k").repartition(cpus)
    }

    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    // FK bases must match the referenced table's PK base: compute them from
    // the REFERENCED source key space, not the fact's own value range.
    val ckBase = read("customer").agg(max(col("c_custkey"))).collect()(0).getLong(0) + 1L
    val skBase = read("supplier").agg(max(col("s_suppkey"))).collect()(0).getLong(0) + 1L
    val pkBase = read("part").agg(max(col("p_partkey"))).collect()(0).getLong(0) + 1L
    val okBase = read("orders").agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1L
    val orders = read("orders").join(spark.range(factor).toDF("__k"))
      .withColumn("o_orderkey", col("o_orderkey") + col("__k") * lit(okBase))
      .withColumn("o_custkey", col("o_custkey") + col("__k") * lit(ckBase))
      .drop("__k").repartition(cpus)
    write(orders, "orders")
    val lineitem = read("lineitem").join(spark.range(factor).toDF("__k"))
      .withColumn("l_orderkey", col("l_orderkey") + col("__k") * lit(okBase))
      .withColumn("l_partkey", col("l_partkey") + col("__k") * lit(pkBase))
      .withColumn("l_suppkey", col("l_suppkey") + col("__k") * lit(skBase))
      .drop("__k").repartition(cpus)
    write(lineitem, "lineitem")

    val ev = read("events")
    val evBase = ev.agg(max(col("event_id"))).collect()(0).getLong(0) + 1L
    val uidBase = ev.agg(max(col("user_id"))).collect()(0).getLong(0) + 1L
    // user_id shifts too: per-user event streams keep their base length, so
    // the per-key state ops (as-of joins, sessionization, latest-state
    // windows) scale in USERS, not in per-user history — the shape a grown
    // corpus actually has.
    write(ev.join(spark.range(factor).toDF("__k"))
      .withColumn("event_id", col("event_id") + col("__k") * lit(evBase))
      .withColumn("user_id", col("user_id") + col("__k") * lit(uidBase))
      .drop("__k").repartition(cpus), "events")

    val docs = read("documents")
    val docBase = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1L
    write(docs.join(spark.range(factor).toDF("__k"))
      .select(
        (col("doc_id") + col("__k") * lit(docBase)).as("doc_id"),
        expr("CASE WHEN __k = 0 THEN text ELSE concat_ws(' ', transform(" +
          "array_sort(transform(split(text, ' '), " +
          "w -> struct(md5(concat(w, CAST(__k AS STRING), '|', " +
          "CAST(doc_id AS STRING))) AS h, w AS w))), " +
          "s -> s.w)) END").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(cpus), "documents")

    val em = read("embeddings")
    val vecBase = em.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    write(em.join(spark.range(factor).toDF("__k"))
      .withColumn("vec_id", col("vec_id") + col("__k") * lit(vecBase))
      .drop("__k").repartition(cpus), "embeddings")

    spark.stop()
  }
}
