package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ladders.{Ann, Crawl, Funnel, Link, Loop, Scale}

/** The scale ladders behind the recorded scale claims, as one main:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=... java -cp ... graft.Probe <ladder> [rung args]
  *
  *   scale  [nDocs=50000]                   dedup / text operator stack
  *   ann    [nVecs=100000] [nLists=32]      similarity / ANN stack
  *   link   [nRows=10000000] [iterations=3] outlinks -> frontier -> pagerank
  *   funnel [nRows=10000000]                composed curation funnel
  *   crawl  [nRows=1000000] [cap=100]       composed crawl loop
  *   loop   [preloaded=400000] [items=8]    driver loop over a pre-loaded warehouse
  * }}}
  *
  * A ladder (`graft.ladders`) maps the session, the sf dir and its rung
  * arguments to its receipt fields. This main measures the host-era
  * constant before Spark starts its threads ([[Era]]), builds the one
  * [[Session]] (sized by the sf dir, default sf0.1), times the ladder and
  * prints one JSON line: `{"probe", "era_quality", "sf", "wall_sec",
  * <receipt fields>}`.
  *
  * The receipts in `bench_history/` were taken when each ladder was its own
  * main (SCALEPROBE_*, ANNPROBE_*, LINKPROBE_*, FUNNEL_*, CRAWL_*), with
  * shuffle partitions equal to the core count; a rung far larger than the
  * sf dir reproduces that shape with SPARK_GRAFT_SHUFFLE_PARTITIONS.
  */
object Probe {

  type Fields = Seq[(String, Any)]
  type Ladder = (SparkSession, String, Seq[String]) => Fields

  val ladders: Map[String, Ladder] = scala.collection.immutable.ListMap(
    "scale" -> Scale.run _,
    "ann" -> Ann.run _,
    "link" -> Link.run _,
    "funnel" -> Funnel.run _,
    "crawl" -> Crawl.run _,
    "loop" -> Loop.run _)

  /** Wall seconds of `body`, and its result. */
  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Receipt fields in insertion order, each echoed to stderr as it lands
    * so a rung that stalls for hours is attributable to a named step. */
  final class Receipt {
    private val buf = scala.collection.mutable.ListBuffer.empty[(String, Any)]
    def add(name: String, value: Any): Unit = {
      buf += name -> value
      System.err.println(s"[probe] $name $value")
    }
    /** Runs `body` and records its wall seconds as `<name>_sec`. */
    def timed[T](name: String)(body: => T): T = {
      val (sec, r) = time(body)
      add(s"${name}_sec", sec)
      r
    }
    def fields: Fields = buf.toList
  }

  /** `k / of`, 0 for an empty denominator. */
  def frac(k: Long, of: Long): Double = k.toDouble / math.max(1L, of)

  /** The fetched-page corpus the link and crawl ladders share: n pages with
    * the gate fixture's urls and link html (~8 fetchable anchors each),
    * parquet-materialized under `scratch`. Parquet, not localCheckpoint: a
    * checkpoint pins the deserialized table in executor storage, and at the
    * 30 M rung the html column exceeds any heap one JVM gets here (two
    * kernel-OOM kills at 96 g, round 13). */
  def fetchedPages(spark: SparkSession, n: Long, scratch: String): DataFrame = {
    import graft.fixtures.Fixtures
    Scratch.materialize(Fixtures.attachLinksHtml(
      Fixtures.attachUrls(
        spark.range(n).toDF("doc_id")
          .withColumn("source", concat(lit("s"),
            pmod(xxhash64(col("doc_id"), lit(11L)), lit(40L)))),
        "doc_id", "source"),
      "doc_id", "url"), scratch, "docs")
  }

  def json(fields: Fields): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    fields.map { case (k, v) =>
      val rendered = v match {
        case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.4f"
        case s: String => str(s)
        case other => other.toString
      }
      s"${str(k)}:$rendered"
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val ladder = args.headOption.flatMap(ladders.get).getOrElse {
      System.err.println(s"usage: graft.Probe <${ladders.keys.mkString("|")}> [rung args]")
      sys.exit(2)
    }
    val era = Era.quality()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(sfDir)
    try {
      val (wall, fields) = time(ladder(spark, sfDir, args.toSeq.tail))
      println(json(Seq("probe" -> args.head, "era_quality" -> era, "sf" -> sfDir,
        "wall_sec" -> wall) ++ fields))
    } finally spark.stop()
  }
}
