package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one JVM-wide cache for what the engine derives from its input data:
  * trained models, inferred schemas, table statistics and build-once
  * parquet stores.
  *
  * An entry is keyed by its kind, its parameters and its input paths, and
  * remembers the [[fingerprint]] of the inputs it was built from. Every
  * lookup lists the inputs again; when a fingerprint changed, the entry is
  * rebuilt and the old one replaced, so an in-process rewrite of an input
  * never serves a stale artifact — one invalidation rule for every kind.
  *
  * Builds may nest (a fixture built from another fixture): each entry has
  * its own lock, held only around its own build, so a nested lookup of
  * another key never re-enters the map's update (a single
  * `computeIfAbsent` would throw "Recursive update" there).
  */
object Artifacts {
  private final class Entry {
    var fingerprint: String = _
    var value: Any = _
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of one input path: an MD5 over the name, length and mtime
    * of every file under it, via the Hadoop FS API (any scheme). Names
    * count: Spark writes new part-file names on every rewrite, so a
    * rewrite with the same file count, bytes and mtime still changes it.
    * One listing, no Spark job. */
  private def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status reads each local file's
    // owner and permissions, which on a local FS forks a shell per file
    def files(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
    try md5Hex(files(p).map(f => s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}")
      .sorted.mkString("\n"))
    catch { case _: java.io.FileNotFoundException => "absent" }
  }

  private def lookup[T](spark: SparkSession, key: String, inputs: Seq[String])(
      build: String => T): T = {
    val fp = inputs.map(fingerprint(spark, _)).mkString(",")
    val e = entries.computeIfAbsent(key, _ => new Entry)
    e.synchronized {
      if (e.fingerprint != fp) {
        e.value = build(fp)
        e.fingerprint = fp
      }
      e.value.asInstanceOf[T]
    }
  }

  private def keyOf(kind: String, params: Seq[Any], inputs: Seq[String]): String =
    (kind +: params.map(String.valueOf) :+ inputs.mkString(",")).mkString("#")

  /** An in-memory artifact: `build` runs on the first lookup of
    * (kind, params, inputs) and again whenever an input's fingerprint
    * changed; otherwise the held value returns with no Spark job. */
  def memo[T](spark: SparkSession, kind: String, params: Seq[Any],
              inputs: Seq[String])(build: => T): T =
    lookup(spark, keyOf(kind, params, inputs), inputs)(_ => build)

  /** A build-once parquet artifact, returned as its path. `warehouse`
    * picks where it lives: Some(base) writes `base/<kind>_<tag>` on
    * whatever Hadoop FS scheme the base names (s3a://, hdfs://, …), with
    * the tag an MD5 of the key and the input fingerprints, so another JVM
    * finds the same artifact for the same data; None (bench/test) writes
    * a JVM-lifetime [[Scratch.dir]]. A path whose `marker` file is missing
    * (never built, or a build that died part-way) is wiped, handed to
    * `write`, and then marked; a marked path is reused as is. */
  def stored(spark: SparkSession, kind: String, params: Seq[Any], inputs: Seq[String],
             warehouse: Option[String], marker: String = "_SUCCESS")(
      write: String => Unit): String = {
    val key = keyOf(kind, params :+ warehouse, inputs)
    lookup(spark, key, inputs) { fp =>
      val path = warehouse match {
        case Some(w) => s"$w/${kind}_${md5Hex(s"$key#$fp").take(16)}"
        case None => Scratch.dir(s"graft_$kind") + s"/$kind"
      }
      val done = new Path(path, marker)
      val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(done)) {
        fs.delete(new Path(path), true)
        write(path)
        fs.create(done, true).close()
      }
      path
    }
  }
}
