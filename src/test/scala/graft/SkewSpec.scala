package graft

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom filters land in the parquet files for tx_hash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val df = Seq((1L, "HASH_A"), (2L, "HASH_B")).toDF("height", "tx_hash")
    graft.store.Store.writeTable(df, s"$dir/txs", Nil, Seq("height"),
      bloomCols = Seq("tx_hash"))
    // verify at the parquet-metadata level: bloom offset recorded for tx_hash
    val file = new java.io.File(s"$dir/txs").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size()).map(cols.get)
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(byName("tx_hash") === true, byName.toString)
      assert(byName("height") === false, byName.toString)
    } finally reader.close()
  }
}
