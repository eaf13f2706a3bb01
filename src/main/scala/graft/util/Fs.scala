package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Small filesystem/materialization helpers: the one scratch-dir
  * bracket every per-call temp dir goes through, and the helpers the
  * round-trip operators (FormatOps, StreamQueries, the stats stores)
  * and their specs share.
  */
object Fs {

  /** Depth-first delete.  Walk streams are closed (Using.resource) —
    * Files.walk holds a directory handle until closed (the Bench
    * bench_detail lesson, Bench.scala).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val all = scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        _.iterator().asScala.toSeq
      }
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** fsync every regular file under `p`, symlinks not followed (fsync
    * works on an O_RDONLY fd on Linux; FileChannel.force is exactly that
    * syscall).  [[withTempDir]] calls this INSIDE each call, so inside
    * each timed rep, before the root is deleted: without it the write's
    * dirty pages linger in the page cache and the NEXT rep pays their
    * writeback — the r15 "inverted warming" artifact (q231 reps
    * 1.93→2.55→4.42 s, each rep slower because it inherits the previous
    * rep's flush).  With the flush inside the rep, every rep is
    * self-contained and the rep array reflects plan cost, not
    * accumulated disk state.
    */
  def syncRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val files = scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_,
          java.nio.file.LinkOption.NOFOLLOW_LINKS)).toSeq
      }
      files.foreach { f =>
        scala.util.Using.resource(java.nio.channels.FileChannel.open(
          f, java.nio.file.StandardOpenOption.READ))(_.force(true))
      }
    }
  }

  /** Find the single part file with the given extension in a directory
    * written by a one-partition Spark write.  Stream closed.
    */
  def onlyPartFile(dir: String, ext: String = ".parquet"): java.nio.file.Path =
    scala.util.Using.resource(java.nio.file.Files.list(java.nio.file.Paths.get(dir))) {
      _.filter(p => p.toString.endsWith(ext)).findFirst().get()
    }

  /** The per-call scratch bracket: make one `graft-<tag>*` root, run
    * `body` on it, then fsync and delete the root whether `body`
    * returned or threw.  A call that needs several dirs (watch, stage,
    * checkpoint, store, output) uses subdirs of its one root.  The
    * fsync is [[syncRecursively]]'s bench-hygiene rule: the write's
    * dirty pages are flushed inside the call that made them.  A result
    * read from the root must be localized ([[localize]]) inside
    * `body`.
    */
  def withTempDir[T](tag: String)(body: java.nio.file.Path => T): T = {
    val root = newRoot(tag)
    try body(root)
    finally try syncRecursively(root) finally deleteRecursively(root)
  }

  /** A scratch dir that must OUTLIVE its call — a returned lazy frame
    * reads it (q361's sink output) or a per-JVM memo serves it (the
    * q366 partitioned fixture) — deleted at JVM exit instead.  One
    * shutdown hook, registered lazily; File.deleteOnExit would leak an
    * entry per FILE and misses files created after registration.
    */
  def tempDirUntilExit(tag: String): java.nio.file.Path = exitDirs.synchronized {
    if (exitDirs.isEmpty)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        exitDirs.synchronized(exitDirs.foreach(d =>
          try deleteRecursively(d) catch { case _: Exception => () }))))
    val root = newRoot(tag)
    exitDirs += root
    root
  }
  private val exitDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  private def newRoot(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft-$tag")

  /** Collect a BOUNDED frame (O(groups) rows by construction) into a
    * local relation, so a [[withTempDir]] root can be deleted when the
    * bracket closes — returning a lazy plan over files about to be
    * unlinked would read after delete on re-execution.  Same rationale
    * as the streaming memory sink (StreamRunner.toTable); callers
    * document why their result is bounded.
    */
  def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(df.collect(): _*)
    spark.createDataFrame(rows, df.schema)
  }
}
