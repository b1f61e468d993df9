package graft

/** JVM-lifetime scratch directories for gates and store fallbacks.
  *
  * Gate bodies and the warehouse-less store paths need throwaway disk that
  * may still be READ lazily after the creating function returns (a returned
  * DataFrame scans it when the driver collects), so eager deletion is
  * unsafe; before round 13 these simply leaked a parquet tree into /tmp per
  * run (round-12 advice). A shutdown hook per directory is the correct
  * lifetime: alive for the whole session, gone when the JVM exits.
  */
object Scratch {
  def dir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
    p.toString
  }

  /** Write `df` under `scratchDir/name` and return the parquet-backed
    * re-read — the lineage-truncating materializer shared by the iterative
    * operators and scale probes (pageRank's per-iteration ranks, the
    * redirect doubling, the probes' staged inputs). Parquet, never
    * `localCheckpoint`: a checkpoint pins the DESERIALIZED table in
    * executor storage — the round-13 30 M-edge OOM — while a parquet
    * round-trip streams through compressed, column-prunable files, and on
    * a real cluster survives executor loss. Exact for every type the
    * engine writes (the rank/redirect columns are strings/longs). */
  def materialize(df: org.apache.spark.sql.DataFrame,
                  scratchDir: String, name: String): org.apache.spark.sql.DataFrame = {
    val p = s"$scratchDir/$name"
    df.write.parquet(p)
    // read back under the WRITER's schema: exact types/nullability with no
    // inference pass, and an EMPTY result round-trips too (a zero-partition
    // write leaves only _SUCCESS, which schema inference rejects)
    df.sparkSession.read.schema(df.schema).parquet(p)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Read a parquet path with its inferred schema supplied from
    * [[Artifacts]] — the catalog-metastore shape: a table's schema is
    * metadata read once, not a per-query driver footer pass (without it
    * every bench/verify query execution re-ran listing + footer schema
    * inference per table read, ~0.08–0.15 s each on warm sf0.1). A
    * rewrite of the path re-infers. The inference runs under the session's
    * CURRENT parquet flags — callers that depend on e.g. nanosAsLong must
    * set it before their first read (Td.t does). Every read still scans
    * the parquet data itself. */
  def readCachedSchema(spark: org.apache.spark.sql.SparkSession,
                       path: String): org.apache.spark.sql.DataFrame = {
    val schema = Artifacts.memo(spark, "schema", Nil, Seq(path))(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
