package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExpressions
import graft.store.Store

/** Native expressions + the height→bucket pruning rule. */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("format_readable_size: native expression, codegen-compatible") {
    val got = Seq(512L, 1536L, 1073741824L).toDF("b")
      .select(GraftExpressions.format_readable_size(col("b")))
      .collect().map(_.getString(0))
    assert(got.toSeq === Seq("512 B", "1.50 KiB", "1.00 GiB"))
  }

  test("maybe_b64_decode: native expression matches the reference heuristic") {
    val got = Seq("aGVsbG8=", "hello", null).toDF("s")
      .select(GraftExpressions.maybe_b64_decode(col("s")))
      .collect().map(_.getString(0))
    assert(got.toSeq === Seq("hello", "hello", null))
  }

  test("SQL registration: callable from spark.sql") {
    GraftExpressions.register(spark)
    val got = spark.sql(
      "SELECT format_readable_size(2048), maybe_b64_decode('dGVzdA==')").collect()(0)
    assert(got.getString(0) === "2.00 KiB")
    assert(got.getString(1) === "test")
  }

  test("HeightBucketPruning: height filter derives partition filters on the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = (0L until 500000L by 1000L).toDF("height")
      .withColumn("payload", col("height") * 2)
      .withColumn("height_bucket", graft.functions.Fns.heightBucket(col("height")))
    Store.writeTable(df, s"$dir/t", Seq("height_bucket"), Seq("height"))

    val q = spark.read.parquet(s"$dir/t")
      .filter(col("height") >= 150000L && col("height") < 250000L)
    val physical = q.queryExecution.executedPlan.toString

    // the derived bucket bounds must appear as PartitionFilters on the scan
    assert(physical.contains("PartitionFilters"), physical.take(2000))
    val pf = physical.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("height_bucket"), pf)
    // and results are identical to the unpruned computation
    val got = q.select(sum("payload")).collect()(0).getLong(0)
    val expected = (0L until 500000L by 1000L)
      .filter(h => h >= 150000L && h < 250000L).map(_ * 2).sum
    assert(got === expected)
  }

  test("HeightBucketPruning: no-op when bucket predicate already present or no literal") {
    val df = Seq((1L, 0L), (200000L, 2L)).toDF("height", "height_bucket")
    // already has bucket predicate -> unchanged result, no duplicate derivation
    val q1 = df.filter(col("height") >= 1L && col("height_bucket") === 0L)
    assert(q1.count() === 1)
    // join-style non-literal comparison -> no derivation, still correct
    val q2 = df.filter(col("height") >= col("height_bucket"))
    assert(q2.count() === 2)
  }

  test("native kernels: interpreted eval matches the codegen'd column path") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.Native
    // the resolved Native's replacement (StaticInvoke/Invoke), evaluated
    // without codegen
    def interpreted(c: Column): Any = spark.range(1).select(c).queryExecution
      .analyzed.expressions.head.children.head
      .asInstanceOf[Native].replacement.eval(null)
    // normalize_text
    val nt = interpreted(GraftExpressions.normalize_text(lit("a  b\u0301  ")))
    assert(nt.asInstanceOf[UTF8String].toString ===
      graft.functions.Fns.normalizeTextStr("a  b\u0301  "))
    // simhash16 over a words literal
    val sh = interpreted(GraftExpressions.simhash16(typedLit(Seq("lower", "stow"))))
    val viaCol = Seq(Seq("lower", "stow")).toDF("ws")
      .select(GraftExpressions.simhash16(col("ws")))
      .collect()(0).getLong(0)
    assert(sh.asInstanceOf[Long] === viaCol)
    // pq_encode on a real codebook + vector
    val cbs = Array.tabulate(2, 4, 2)((s, c, d) => (s + c * 2 + d).toDouble)
    val pq = interpreted(
      GraftExpressions.pq_encode(typedLit(Seq(1.0f, 2.0f, 3.0f, 4.0f)), cbs))
    val interp = pq.asInstanceOf[ArrayData].toIntArray().toSeq
    val viaCol2 = Seq(Seq(1.0f, 2.0f, 3.0f, 4.0f)).toDF("v")
      .select(GraftExpressions.pq_encode(col("v"), cbs))
      .collect()(0).getSeq[Int](0)
    assert(interp === viaCol2)
  }

  /** One row per input shape: normal values, every input null, and a
    * null slot in every array. */
  private def nativeInputs(): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType),
      StructField("ws", ArrayType(StringType)), StructField("f", ArrayType(FloatType)),
      StructField("g", ArrayType(FloatType)), StructField("d", ArrayType(DoubleType)),
      StructField("la", ArrayType(LongType)), StructField("lb", ArrayType(LongType)),
      StructField("e", LongType)))
    val rows = Seq(
      Seq("lower  partner\tstow dGVzdA== b́", 1536L,
        Seq("lower", "stow", "lower", "partner"), Seq(1f, 2f, 3f, 4f), Seq(4f, 3f, 2f, 1f),
        Seq(0.5, 1.5, 2.5, 3.5), Seq(1L, 3L, 5L, 9L), Seq(3L, 5L, 7L), 5L),
      Seq.fill[Any](9)(null),
      Seq("dGVzdA==", 7L, Seq("a", null, "b"), Seq(1f, null, 3f, 4f), Seq(1f, 2f, 3f, 4f),
        Seq(1.0, null, 3.0, 4.0), Seq(1L, null, 5L), Seq(1L, 5L), 5L))
    val dir = java.nio.file.Files.createTempDirectory("graft_native").toString
    spark.createDataFrame(java.util.Arrays.asList(
        rows.map(org.apache.spark.sql.Row.fromSeq): _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("every native function: codegen equals interpreted eval of its replacement") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import graft.functions.Native
    import GraftExpressions._
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100)
    bloom.putString("dGVzdA==")
    val cbs = Array.tabulate(2, 3, 2)((s, c, d) => (s + c * 2 + d).toDouble)
    val cents = Array.tabulate(3, 4)((c, d) => (c * 2 + d).toDouble)
    val cases: Seq[(String, Column)] = Seq(
      "format_readable_size" -> format_readable_size(col("n")),
      "maybe_b64_decode" -> maybe_b64_decode(col("s")),
      "rolling_hash" -> rolling_hash(col("s")),
      "normalize_text" -> normalize_text(col("s")),
      "cosine_sim" -> cosine_sim(col("f"), col("g")),
      "sorted_intersect_count_long" -> sorted_intersect_count_long(col("la"), col("lb")),
      "sorted_contains_long" -> sorted_contains_long(col("la"), col("e")),
      // non-nullable inputs: the kernel's own null (a null slot) must still
      // compile into the generated code
      "sorted_intersect_count_long, non-nullable inputs" -> sorted_intersect_count_long(
        coalesce(col("la"), typedLit(Seq(5L))), coalesce(col("lb"), typedLit(Seq(5L)))),
      "sorted_contains_long, non-nullable inputs" ->
        sorted_contains_long(coalesce(col("la"), typedLit(Seq(5L))), lit(5L)),
      "simhash16" -> simhash16(col("ws")),
      "winnow_prints" -> winnow_prints(col("ws"), 2, 2),
      "bloom_might_contain" -> bloom_might_contain(col("s"), bloom),
      "bpe_encode" -> bpe_encode(col("s"), graft.ext.Bpe.DemoMerges),
      "pq_encode float" -> pq_encode(col("f"), cbs),
      "pq_encode double" -> pq_encode(col("d"), cbs),
      "ivf_assign float" -> ivf_assign(col("f"), cents),
      "ivf_assign double" -> ivf_assign(col("d"), cents),
      "lm_score_milli" -> lm_score_milli(col("ws"),
        Map("lower stow" -> -100L), Map("lower" -> -200L), -900L),
      "lm_score_milli3" -> lm_score_milli3(col("ws"), Map("lower stow lower" -> -50L),
        Map("stow lower" -> -100L), Map("stow" -> -200L), -900L, -400L),
      "dsir_score_milli" -> dsir_score_milli(col("ws"), (1L to 16L).toSeq, 16))
    val in = nativeInputs()
    val toInternal = CatalystTypeConverters.createToCatalystConverter(in.schema)
    val inRows = in.collect().toSeq.map(r => toInternal(r).asInstanceOf[InternalRow])
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try cases.foreach { case (label, c) =>
      withClue(label) {
        val q = in.select(c)
        val got = q.collect().map(_.get(0)).toSeq
        val plan = q.queryExecution.executedPlan
        assert(plan.find {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            w.child.isInstanceOf[org.apache.spark.sql.execution.ProjectExec]
          case _ => false
        }.isDefined, plan.toString)
        val analyzed = q.queryExecution.analyzed
        val native = analyzed.expressions.head.children.head.asInstanceOf[Native]
        val interpreted =
          BindReferences.bindReference(native.replacement, analyzed.children.head.output)
        val want = inRows.map(r =>
          CatalystTypeConverters.convertToScala(interpreted.eval(r), native.dataType))
        assert(got === want)
        if (native.children.forall(_.nullable)) assert(got(1) == null, "null input")
        // no isnotnull(column) is inferred through the call (Native.replacement)
        val filtered = in.filter(c.isNotNull).queryExecution.optimizedPlan.toString
        assert("isnotnull\\([a-z]+#".r.findFirstIn(filtered).isEmpty, filtered)
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("native functions over equal models are semanticEquals") {
    import org.apache.spark.sql.Column
    import GraftExpressions._
    def bloom(s: String) = {
      val b = org.apache.spark.util.sketch.BloomFilter.create(100); b.putString(s); b
    }
    def cbs(k: Double) = Array.tabulate(2, 3, 2)((s, c, d) => s + c * 2 + d + k)
    val builds: Seq[(String, Int => Column)] = Seq(
      "winnow_prints" -> (k => winnow_prints(col("ws"), 2 + k, 2)),
      "bloom_might_contain" -> (k => bloom_might_contain(col("s"), bloom(s"x$k"))),
      "bpe_encode" -> (k => bpe_encode(col("s"), graft.ext.Bpe.DemoMerges.drop(k))),
      "pq_encode" -> (k => pq_encode(col("f"), cbs(k))),
      "ivf_assign" -> (k => ivf_assign(col("f"), Array.fill(3, 4)(k.toDouble))),
      "lm_score_milli" -> (k =>
        lm_score_milli(col("ws"), Map("a b" -> (-1L - k)), Map("a" -> -2L), -9L)),
      "lm_score_milli3" -> (k => lm_score_milli3(col("ws"), Map("a b c" -> (-1L - k)),
        Map("b c" -> -2L), Map("b" -> -3L), -9L, -4L)),
      "dsir_score_milli" -> (k => dsir_score_milli(col("ws"), Seq.fill(8)(k.toLong), 8)))
    val in = nativeInputs()
    def resolved(c: Column) =
      in.select(c).queryExecution.analyzed.expressions.head.children.head
    builds.foreach { case (label, build) =>
      withClue(label) {
        assert(resolved(build(0)).semanticEquals(resolved(build(0))))
        assert(!resolved(build(0)).semanticEquals(resolved(build(1))))
        assert(in.select(build(0)).queryExecution.executedPlan
          .sameResult(in.select(build(0)).queryExecution.executedPlan))
      }
    }
  }

  /** One fixture per registry table, in the table's own schema: several
    * versions per key, and one exact version tie. failed_blocks' tie is
    * broken by its `id` tie-break, with the losing smaller id written first
    * so a read that drops the tie-break keeps it. The other three specs
    * have no tie-break, which promises nothing between differing tied
    * rows, so their tie is a re-insert of one row. The expected FINAL rows
    * are the last of each fixture. */
  private def finalFixtures(): Seq[(String, Seq[Seq[Any]], Seq[Seq[Any]])] = {
    def ts(s: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s))
    def block(h: Long, t: Long, hash: String) = Seq(h, hash, 0, 0, ts(t))
    def state(name: String, h: Long, t: Long) = Seq(name, h, ts(t))
    def item(id: Long, status: String, t: Long) =
      Seq(id, 1L, 10L, status, null, null, ts(1), ts(t))
    def failure(h: Long, id: Long, status: String, t: Long) =
      Seq(h, id, "missing", "gap", "driver", 0, 10, status, ts(t + 300), ts(t))
    Seq(
      ("blocks",
        Seq(block(1, 100, "a"), block(1, 200, "b"), block(1, 150, "c"),
          block(2, 50, "d"), block(2, 50, "d")),
        Seq(block(1, 200, "b"), block(2, 50, "d"))),
      ("index_state",
        Seq(state("main", 10, 100), state("main", 30, 300), state("main", 20, 200),
          state("side", 5, 100), state("side", 5, 100)),
        Seq(state("main", 30, 300), state("side", 5, 100))),
      ("work_queue",
        Seq(item(1, "pending", 100), item(1, "processing", 200), item(1, "done", 300),
          item(2, "pending", 100), item(2, "pending", 100)),
        Seq(item(1, "done", 300), item(2, "pending", 100))),
      ("failed_blocks",
        Seq(failure(3, 1, "pending", 100), failure(3, 2, "pending", 200),
          failure(7, 3, "pending", 500), failure(7, 4, "failed_permanently", 500)),
        Seq(failure(3, 2, "pending", 200), failure(7, 4, "failed_permanently", 500))))
  }

  test("FINAL hint: rewrites to latest-per-key, equal to Store.latest, SQL surface works") {
    import graft.pipeline.{Pipeline, PipelineConfig}
    import graft.schema.Schemas
    import org.apache.spark.sql.Row
    val schemas = Map("blocks" -> Schemas.blocks, "index_state" -> Schemas.indexState,
      "work_queue" -> Schemas.workQueue, "failed_blocks" -> Schemas.failedBlocks)
    val fixtures = finalFixtures()
    assert(fixtures.map(_._1).toSet === Store.versionedTables.keySet)
    val wh = java.nio.file.Files.createTempDirectory("graft_final").toString
    def frame(t: String, rows: Seq[Seq[Any]]) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schemas(t))
    fixtures.foreach { case (t, rows, _) =>
      frame(t, rows).coalesce(1).write.parquet(s"$wh/$t")
    }
    val p = new Pipeline(spark, PipelineConfig(warehouse = wh))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    fixtures.foreach { case (t, _, expected) =>
      withClue(t) {
        val raw = spark.read.parquet(s"$wh/$t")
        val want = sorted(frame(t, expected))
        assert(sorted(raw.hint("FINAL")) === want)
        assert(sorted(Store.latest(raw, Store.versionedTables(t))) === want)
        if (t != "blocks") assert(sorted(p.readTable(t)) === want)
        val copy = s"$wh/compacted_$t"
        raw.write.parquet(copy)
        Store.compact(spark, copy, Store.latest(_, Store.versionedTables(t)))
        assert(sorted(spark.read.parquet(copy)) === want)
      }
    }
    // SQL surface: the ClickHouse-FINAL analogue as a hint
    val df = Seq(
      (1L, 100L, "a"), (1L, 200L, "b"), // height 1: v200 wins
      (2L, 50L, "c")).toDF("height", "created_at", "payload")
    df.createOrReplaceTempView("final_hint_t")
    // the hint goes on the table read (innermost select) — above a
    // projection the version column may already be pruned away
    val viaSql = spark.sql(
      "SELECT height, payload FROM (SELECT /*+ FINAL */ * FROM final_hint_t) " +
        "ORDER BY height")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaSql.toSeq === Seq((1L, "b"), (2L, "c")))
    // unknown schema fails loudly, never silently reads raw
    val bad = Seq((1L, "x")).toDF("some_id", "v")
    val e = intercept[Exception](bad.hint("FINAL").collect())
    assert(e.getMessage.contains("FINAL hint"))
    // ambiguous schema (blocks + work_queue specs both present) fails loudly
    val amb = Seq((1L, 2L, 3L, 4L)).toDF("height", "created_at", "id", "updated_at")
    val e2 = intercept[Exception](amb.hint("FINAL").collect())
    assert(e2.getMessage.contains("ambiguous"))
  }

  test("FINAL hint: version ties broken by the registry tie-break (failed_blocks id)") {
    // failed_blocks shape: two rows share (block_height, last_retry_at);
    // the spec's tieBreak Seq("id") must pick the max id deterministically,
    // exactly like the explicit Store.latest(tieBreak = Seq("id")) read.
    val df = Seq(
      (10L, 500L, 1L, "first"), (10L, 500L, 2L, "second"),
      (11L, 400L, 3L, "only")).toDF("block_height", "last_retry_at", "id", "err")
    val viaHint = df.hint("FINAL").orderBy("block_height")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    val viaApi = Store.latest(df, Seq("block_height"), "last_retry_at",
        tieBreak = Seq("id")).orderBy("block_height")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(viaHint.toSeq === viaApi.toSeq)
    assert(viaHint.toSeq === Seq((10L, 2L, "second"), (11L, 3L, "only")))
  }

  test("FINAL hint: a projection that pruned the tie-break column still resolves") {
    // failed_blocks minus `id`: keys+ver identify the versioned read; the
    // absent tie-break must degrade (order by ver only), not throw — a
    // caller that pruned the tie-break accepted its nondeterminism.
    val df = Seq(
      (10L, 500L, "a"), (11L, 400L, "b"))
      .toDF("block_height", "last_retry_at", "err")
    val got = df.hint("FINAL").orderBy("block_height")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(got.toSeq === Seq((10L, "a"), (11L, "b")))
  }

  test("sorted kernels: nullable output survives non-nullable inputs under strict codegen") {
    // sort_array(collect_list(..)) yields nullable=false array columns; the
    // kernels' null branch (null SLOT -> null) must still compile — declare
    // nullable=true and run with codegen fallback disabled so a generated-
    // code compile error fails the test instead of silently interpreting.
    val vs = typedLit(Seq(10L, 20L))
    Seq(GraftExpressions.sorted_intersect_count_long(vs, vs),
        GraftExpressions.sorted_contains_long(vs, lit(10L))).foreach { c =>
      val e = spark.range(1).select(c).queryExecution.analyzed.expressions.head.children.head
      assert(e.children.forall(!_.nullable), e.toString)
      assert(e.nullable, e.toString)
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val grouped = Seq((1, 10L), (1, 20L), (2, 10L), (2, 30L)).toDF("g", "v")
        .groupBy("g").agg(sort_array(collect_list(col("v"))).as("vs"))
      val joined = grouped.as("a").crossJoin(grouped.as("b"))
        .select(
          GraftExpressions.sorted_intersect_count_long(col("a.vs"), col("b.vs")).as("c"),
          GraftExpressions.sorted_contains_long(col("a.vs"), lit(10L)).as("m"))
        .orderBy(col("c"))
      val rows = joined.collect()
      assert(rows.length === 4)
      assert(rows.map(_.getInt(0)).toSeq === Seq(1, 1, 2, 2))
      assert(rows.forall(_.getBoolean(1)))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
