package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Build-once-per-JVM temp artifacts (serving indexes, clustered
  * layouts) keyed by BOTH a caller key and a fingerprint of the input
  * data — the single implementation behind
  * [[graft.etl.SearchIndex.cachedIndex]] and
  * [[graft.operators.ZOrder.cachedLayout]]. The fingerprint closes the
  * staleness hole a path-only key has: regenerate the dataset at the
  * same path inside one JVM and the old cache entry stops matching, so
  * the artifact is rebuilt from the live data instead of silently
  * serving the previous corpus. Cached directories are removed on JVM
  * exit.
  */
object ArtifactCache {

  private val cache = new ConcurrentHashMap[String, String]()

  /** Cheap input fingerprint — the one "has this directory changed"
    * key of graft (artifact and DSL caches, [[ServingState]]): a digest
    * of the name, byte size and modification time of every entry of
    * the path's direct listing, "absent" when it does not exist. Every
    * Spark write names its files anew, so any rewrite of a parquet
    * dataset or of one of its leaves changes it. One listing per
    * lookup; never reads data.
    */
  def freshnessToken(spark: SparkSession, path: String): String = {
    val fs = VersionPointer.fsOf(path, spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    if (!fs.exists(p)) "absent" else freshnessToken(fs.listStatus(p))
  }

  /** The fingerprint of an existing directory's listing, already taken. */
  def freshnessToken(listing: Array[FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    listing.sortBy(_.getPath.getName).foreach { s =>
      md.update(s"${s.getPath.getName}\u0000${s.getLen}\u0000${s.getModificationTime}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The directory holding the artifact for (`key`, current state of
    * `watch`), building it on first request. `build` receives the
    * fresh directory path.
    */
  def cachedDir(spark: SparkSession, key: String, watch: Seq[String],
      prefix: String)(build: String => Unit): String = {
    val full = (key +: watch.map(p => freshnessToken(spark, p))).mkString("|")
    cache.computeIfAbsent(full, { _ =>
      val dir = java.nio.file.Files.createTempDirectory(prefix)
      build(dir.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import java.nio.file.Files
        import scala.jdk.CollectionConverters._
        if (Files.exists(dir)) {
          val all = Files.walk(dir).iterator().asScala.toSeq.reverse
          all.foreach(p => Files.deleteIfExists(p): Unit)
        }
      }))
      dir.toString
    })
  }
}
