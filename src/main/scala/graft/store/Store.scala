package graft.store

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.functions._

/** Storage semantics (SURVEY §1.4, §2.1): ClickHouse ReplacingMergeTree
  * upsert-by-insert re-expressed over append-only Parquet.
  *
  * The one piece of engine semantics we must own is FINAL / latest-row-per-key
  * (A15/W1): all state mutations are INSERTs of fresh rows and every read goes
  * through `latest`. Matching the reference exactly, the latest FULL ROW wins —
  * no column-wise merge — so a partial-update row zeroes the columns it
  * omitted (ref `/root/reference/src/database/clickhouse_queries.js:173-185`).
  */
object Store {

  /** A15/W1 — ClickHouse `FINAL`: newest row per `spec.keys` by
    * `spec.ver`, ties broken by `spec.tieBreak` desc. A versioned table's
    * read takes its registry spec, `latest(df, versionedTables(t))`.
    * One shuffle on the dedup key; at 100 TB this is a single hash
    * repartition + in-partition sort, no global sort. */
  def latest(df: DataFrame, spec: VersionedSpec): DataFrame =
    GraftBridge.withPlan(df)(latestPlan(_, spec))

  /** [[latest]] over an ad-hoc spec (a table outside the registry). */
  def latest(df: DataFrame, keys: Seq[String], versionCol: String,
             tieBreak: Seq[String] = Nil): DataFrame =
    latest(df, VersionedSpec(keys, versionCol, tieBreak))

  /** The one FINAL plan: row_number() over (partition by keys order by ver
    * desc, tieBreak desc) = 1, projected back to `child`'s columns. Both
    * [[latest]] and the FINAL hint ([[graft.plans.FinalHintResolution]])
    * build it, so hinted and explicit reads are plan-identical. */
  def latestPlan(child: LogicalPlan, spec: VersionedSpec): LogicalPlan = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    def attr(n: String) = child.output.find(a => resolver(a.name, n)).getOrElse(
      throw new IllegalArgumentException(
        s"latest: no column $n in ${child.output.map(_.name).mkString("[", ", ", "]")}"))
    val keys = spec.keys.map(attr)
    val order = (spec.ver +: spec.tieBreak).map(c => SortOrder(attr(c), Descending))
    val rn = Alias(WindowExpression(RowNumber(),
      WindowSpecDefinition(keys, order, UnspecifiedFrame)), "__rn")()
    Project(child.output,
      Filter(EqualTo(rn.toAttribute, Literal(1)), Window(Seq(rn), keys, order, child)))
  }

  /** Version-less ReplacingMergeTree tables keep an arbitrary row per key
    * (re-inserts are byte-identical there, so any-row == the row). */
  def latestAnyRow(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** S8 — PG `ON CONFLICT DO NOTHING`: rows of `incoming` whose key is absent
    * from `existing` (left-anti), ready to append. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** S9 — last-write-wins upsert view over existing + incoming appends. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             versionCol: String, tieBreak: Seq[String] = Nil): DataFrame =
    latest(existing.unionByName(incoming), keys, versionCol, tieBreak)

  /** S6/S10 — partitioned, sorted Parquet append. `partitionCols` gives
    * directory pruning (the reference's intDiv(height,1e5) / toYYYYMM
    * partitions); sorting within partitions gives Parquet min/max row-group
    * stats, the analogue of the MergeTree primary index; `bloomCols` adds
    * Parquet bloom filters — the analogue of the reference's
    * `bloom_filter(0.01)` skip indexes on tx_hash (models.js:124-126).
    * `overwritePartitions` replaces exactly the partitions `df` writes
    * (dynamic partition overwrite, scoped to this one writer) instead of
    * appending. */
  def writeTable(df: DataFrame, path: String, partitionCols: Seq[String],
                 sortCols: Seq[String], bloomCols: Seq[String] = Nil,
                 overwritePartitions: Boolean = false): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    var w =
      if (overwritePartitions)
        sorted.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      else sorted.write.mode("append")
    bloomCols.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** Append `rows` to the unpartitioned parquet table at `dir` as one file
    * written on the driver, with no Spark job: a one-row state transition
    * costs ~14 ms this way against ~220 ms as a Spark write (20 one-row
    * appends each, local[4] on 4 vCPUs). The file is written under a
    * hidden name (Spark's readers skip names starting with `.`) and renamed
    * into place, so a reader never lists a partial file. Values follow
    * `schema`'s columns in order: Long, Int, String, or epoch micros (Long)
    * for a timestamp, null for none; every column is optional, as in the
    * files Spark writes. Returns the new file's name. */
  def appendRows(conf: org.apache.hadoop.conf.Configuration, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[Seq[Any]]): String = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    val fields = schema.fields.map { f =>
      (f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case StringType => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case TimestampType => Types.optional(INT64).as(LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case t => throw new IllegalArgumentException(s"appendRows: unsupported column type $t")
      }).named(f.name)
    }
    val message = new MessageType("spark_schema", fields.toSeq: _*)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val table = new org.apache.hadoop.fs.Path(dir)
    val fs = table.getFileSystem(conf)
    fs.mkdirs(table)
    val tmp = new org.apache.hadoop.fs.Path(table, s".$name.tmp")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(tmp)
      .withConf(conf).withType(message).build()
    try {
      val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(message)
      rows.foreach { row =>
        val g = groups.newGroup()
        row.zip(schema.fieldNames).foreach {
          case (null, _) => ()
          case (v: Long, c) => g.append(c, v)
          case (v: Int, c) => g.append(c, v)
          case (v: String, c) => g.append(c, v)
          case (v, c) => throw new IllegalArgumentException(s"appendRows: $c = $v")
        }
        writer.write(g)
      }
    } finally writer.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(table, name)))
      throw new java.io.IOException(s"appendRows: cannot publish $tmp")
    name
  }

  /** Bloom-indexed columns per table, mirroring the reference's skip
    * indexes (tx_hash bloom on txs/type_wasm/type_message). */
  val bloomColsFor: Map[String, Seq[String]] = Map(
    "txs" -> Seq("tx_hash"),
    "type_wasm" -> Seq("tx_hash"),
    "type_message" -> Seq("tx_hash"))

  /** Dedup spec of one ReplacingMergeTree-versioned table: dedup keys,
    * version column, and the deterministic tie-break columns (failed_blocks
    * ties on (block_height, last_retry_at) are broken by id, mirroring the
    * reference ORDER BY (block_height, id)). */
  final case class VersionedSpec(keys: Seq[String], ver: String,
                                 tieBreak: Seq[String] = Nil)

  /** ReplacingMergeTree-versioned tables (ref models.js ORDER BY/ver
    * pairs): the one place their specs are written. Every FINAL read of
    * them takes its spec from here — `Pipeline.readTable`, explicit
    * `latest` calls, compaction, and the FINAL query hint
    * ([[graft.plans.FinalHintResolution]]), which picks its entry by
    * schema inference. */
  val versionedTables: Map[String, VersionedSpec] = Map(
    "blocks" -> VersionedSpec(Seq("height"), "created_at"),
    "index_state" -> VersionedSpec(Seq("index_name"), "updated_at"),
    "work_queue" -> VersionedSpec(Seq("id"), "updated_at"),
    "failed_blocks" -> VersionedSpec(Seq("block_height"), "last_retry_at", Seq("id")))

  /** Background-merge analogue (the job ClickHouse's MergeTree does
    * asynchronously): rewrite a table to its FINAL view `keep` —
    * `latest(_, spec)` with a versioned table's registry spec,
    * `latestAnyRow(_, keys)` for a version-less one — reclaiming
    * superseded rows. Atomic-ish via tmp-dir + rename swap. */
  def compact(spark: SparkSession, path: String, keep: DataFrame => DataFrame,
              partitionCols: Seq[String] = Nil, sortCols: Seq[String] = Nil): Unit = {
    val deduped = keep(spark.read.parquet(path))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact.tmp")
    val live = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".compact.old")
    fs.delete(tmp, true)
    val sorted =
      if (sortCols.nonEmpty) deduped.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else deduped
    val w = sorted.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(live, old)) throw new RuntimeException(s"compact: cannot move $live")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // roll back
      throw new RuntimeException(s"compact: cannot publish $tmp")
    }
    fs.delete(old, true)
  }

  /** Bounded retry for reads racing a [[compact]] publish: between
    * rename(live→old) and rename(tmp→live) the table directory does not
    * exist, and an in-flight scan planned against pre-swap files can hit
    * vanished files once the old generation is deleted. Both surface as
    * path-missing/file-not-found failures — transient by construction, the
    * swap completes in milliseconds — so retry those a few times and
    * propagate everything else untouched. Single-driver deployments never
    * hit this; sustained multi-reader concurrency should upgrade to
    * versioned dirs + a pointer file (or Delta) instead. */
  def withReadRetry[T](attempts: Int = 6, backoffMs: Long = 50)(body: => T): T = {
    // Narrow on purpose: FileNotFoundException (executor-side vanished
    // files, possibly wrapped — hence the message probe) and the analyzer's
    // PATH_NOT_FOUND error class. A generic "does not exist" substring
    // would also retry non-transient AnalysisExceptions (missing column/
    // table), adding ~300 ms of pointless backoff before propagating.
    def vanished(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
        // a checksum (.crc) file removed mid-read surfaces through NIO
        t.isInstanceOf[java.nio.file.NoSuchFileException] ||
        (t match {
          // UNABLE_TO_INFER_SCHEMA: a listing that raced the swap found no
          // parquet file to infer from
          case e: org.apache.spark.sql.AnalysisException =>
            e.getErrorClass == "PATH_NOT_FOUND" || e.getErrorClass == "UNABLE_TO_INFER_SCHEMA"
          case _ => false
        }) ||
        (t.getMessage != null &&
          (t.getMessage.contains("PATH_NOT_FOUND") ||
            t.getMessage.contains("FileNotFoundException"))) ||
        vanished(t.getCause))
    var i = 1
    while (true) {
      try return body
      catch {
        case t: Throwable if vanished(t) && i < attempts =>
          i += 1; Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** S11 — catalog/size introspection over a warehouse directory of tables
    * (analogue of system.tables/system.parts, ref init_clickhouse.js:464-532). */
  def tableStats(spark: SparkSession, basePath: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(basePath)
    val fs = base.getFileSystem(conf)
    val rows: Seq[(String, Long, Long, Long)] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq.filter(_.isDirectory).map { st =>
        val parts = filesUnder(conf, st.getPath.toString)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val (bytes, files) = (parts.map(_.getLen).sum, parts.size.toLong)
        val nRows =
          try spark.read.parquet(st.getPath.toString).count()
          catch { case _: Throwable => 0L }
        (st.getPath.getName, nRows, bytes, files)
      }
    rows.toDF("table", "n_rows", "bytes", "n_files")
      .withColumn("readable_size", graft.functions.GraftExpressions.format_readable_size(col("bytes")))
      .orderBy(col("bytes").desc)
  }

  /** Every file under `path` (itself, when a file) on any Hadoop FS
    * scheme; throws FileNotFoundException when absent. A `listStatus`
    * walk, not `listFiles(recursive)`: a located status reads each local
    * file's owner and permissions, ~15x the cost per listing. */
  def filesUnder(conf: org.apache.hadoop.conf.Configuration,
                 path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    walk(root)
  }
}
