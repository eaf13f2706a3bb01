package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Small filesystem/materialization helpers shared by the round-trip
  * operators (FormatOps, Bucketing, StreamQueries) and their specs.
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

  /** fsync every regular file under `p` (fsync works on an O_RDONLY fd
    * on Linux; FileChannel.force is exactly that syscall).  The
    * round-trip operators call this INSIDE each timed rep, before the
    * temp dir is deleted: without it the write's dirty pages linger in
    * the page cache and the NEXT rep pays their writeback — the r15
    * "inverted warming" artifact (q231 reps 1.93→2.55→4.42 s, each rep
    * slower because it inherits the previous rep's flush).  With the
    * flush inside the rep, every rep is self-contained and the rep
    * array reflects plan cost, not accumulated disk state.
    */
  def syncRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val files = scala.util.Using.resource(java.nio.file.Files.walk(p)) {
        _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
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

  /** Register a temp dir for JVM-exit deletion — for store dirs that
    * must OUTLIVE their creating call (a returned frame reads them
    * lazily, the q230/q336 sink rule) but must not accumulate across
    * repeated bench/correctness invocations in one JVM.  One shutdown
    * hook, registered lazily; File.deleteOnExit would leak an entry
    * per FILE and misses files created after registration.
    */
  def deleteOnExit(p: java.nio.file.Path): Unit = exitDirs.synchronized {
    if (exitDirs.isEmpty)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        exitDirs.synchronized(exitDirs.foreach(d =>
          try deleteRecursively(d) catch { case _: Exception => () }))))
    exitDirs += p
  }
  private val exitDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  /** Collect a BOUNDED frame (O(groups) rows by construction) into a
    * local relation, so temp inputs can be deleted eagerly — returning
    * a lazy plan over files about to be unlinked would read after
    * delete on re-execution.  Same rationale as the streaming memory
    * sink (StreamRunner.toTable); callers document why their
    * result is bounded.
    */
  def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows: java.util.List[Row] = java.util.Arrays.asList(df.collect(): _*)
    spark.createDataFrame(rows, df.schema)
  }
}
