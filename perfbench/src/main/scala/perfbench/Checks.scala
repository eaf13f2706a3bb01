package perfbench

import graft.operators.ReindexJob
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output checks.  Each returns the list of failures; empty means the
  * output is correct.  At most a few examples are named per failure.
  */
object Checks {

  private def some(xs: Iterable[String]): String = xs.take(3).mkString(", ")

  private def common(exp: Expected, res: ReindexJob.Result, ids: Seq[String]): Seq[String] = {
    val seen = new java.util.HashSet[String](ids.size * 2)
    val dups = ids.filterNot(seen.add)
    val missing = exp.goodIds.iterator.filterNot(seen.contains).toSeq
    val extra = seen.asScala.filterNot(exp.goodIds.contains)
    Seq(
      Option.when(dups.nonEmpty)(s"${dups.size} duplicated ids (${some(dups)})"),
      Option.when(missing.nonEmpty)(s"${missing.size} ids missing (${some(missing)})"),
      Option.when(extra.nonEmpty)(s"${extra.size} unexpected ids (${some(extra)})"),
      Option.when(res.docsWritten != exp.goodIds.size)(
        s"docsWritten ${res.docsWritten} != ${exp.goodIds.size}"),
      Option.when(res.softErrors != exp.malformed)(
        s"softErrors ${res.softErrors} != planted ${exp.malformed}"),
      Option.when(!res.checkpoint.contains(exp.maxId))(
        s"checkpoint ${res.checkpoint.getOrElse("none")} != ${exp.maxId}")
    ).flatten
  }

  /** reindex_solr: every good id arrives once, soft errors equal the
    * planted count, the checkpoint is the max good id, and every doc
    * carries its owner's authority (null when the owner has none).
    */
  def solr(exp: Expected, res: ReindexJob.Result, got: Seq[Received]): Seq[String] = {
    val wrongOwner = got.filter(d => exp.ownerOf.get(d.id) != null && exp.ownerOf.get(d.id) != d.owner)
    val wrongAuthority = got.filter(d => exp.authority.get(d.owner).orNull != d.authority)
    common(exp, res, got.map(_.id)) ++ Seq(
      Option.when(wrongOwner.nonEmpty)(s"${wrongOwner.size} docs with a wrong owner (${some(wrongOwner.map(_.id))})"),
      Option.when(wrongAuthority.nonEmpty)(
        s"${wrongAuthority.size} docs with a wrong authority (${some(wrongAuthority.map(_.id))})")
    ).flatten
  }

  /** What the file sink left behind, read back from its directory. */
  final case class FileOutput(ids: Seq[String], files: Int, bytes: Long, maxLines: Int,
                        unsortedFiles: Int)

  private val json = new com.fasterxml.jackson.core.JsonFactory()

  private def idOf(line: String): String = {
    val p = json.createParser(line)
    try {
      require(p.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT)
      var id: String = null
      while (id == null && p.nextToken() == com.fasterxml.jackson.core.JsonToken.FIELD_NAME) {
        val f = p.getCurrentName
        p.nextToken()
        if (f == "id") id = p.getText else p.skipChildren()
      }
      id
    } finally p.close()
  }

  def readBack(dir: Path): FileOutput = {
    val parts = scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toSeq)
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    val ids = Seq.newBuilder[String]
    var maxLines, unsorted = 0
    parts.foreach { f =>
      val fileIds = scala.util.Using.resource(Files.newBufferedReader(f))(
        _.lines.iterator.asScala.filter(_.nonEmpty).map(idOf).toVector)
      maxLines = math.max(maxLines, fileIds.size)
      if (fileIds.zip(fileIds.drop(1)).exists { case (a, b) => a > b }) unsorted += 1
      ids ++= fileIds
    }
    FileOutput(ids.result(), parts.size, parts.map(Files.size).sum, maxLines, unsorted)
  }

  /** reindex_files: the same id set and checkpoint, at most `chunkSize`
    * lines per file, lines id-sorted within each file.
    */
  def files(exp: Expected, res: ReindexJob.Result, out: FileOutput, chunkSize: Int): Seq[String] =
    common(exp, res, out.ids) ++ Seq(
      Option.when(out.maxLines > chunkSize)(s"a file holds ${out.maxLines} lines > chunkSize $chunkSize"),
      Option.when(out.unsortedFiles > 0)(s"${out.unsortedFiles} files not sorted by id")
    ).flatten

  /** registry_slice: row count and order-insensitive hash per query. */
  def registry(name: String, expected: Option[(Long, String)], got: (Long, String)): Seq[String] =
    expected match {
      case None => Seq(s"$name: no expected hash recorded")
      case Some(e) if e != got => Seq(s"$name: rows/hash $got != expected $e")
      case _ => Nil
    }
}
