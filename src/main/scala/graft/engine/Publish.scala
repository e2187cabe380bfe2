package graft.engine

import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** How a write becomes visible: graft's one publish for writes that replace
  * partitions of a directory they read, and its one claim of a log version.
  *
  * Partitions. [[partitions]] writes the new rows, partitioned, to
  * `dir/_stage_<id>`: the `_` prefix hides it from `s.read.parquet(dir)`,
  * and the job that reads `dir` ends before any file under `dir` moves, so
  * no caller needs a `localCheckpoint` to break lineage and a failing job
  * leaves `dir` untouched. [[swap]] then, per named part, moves the old
  * `dir/<col>=<v>` aside into `dir/_replaced_<id>/` and moves the staged one
  * in, if one was staged: a named part with no staged rows is removed. Old
  * parts are deleted only once every part is in place; a rename that throws
  * moves the parts already swapped back first, so each part is always old
  * or new. (Spark's dynamic partition overwrite deletes each target part
  * before renaming the staged one in; a failure between the two loses it.)
  * A killed JVM leaves its `_replaced_<id>` behind, hidden from readers and
  * never deleted by another publisher, which cannot tell a dead writer's
  * dir from a live one's.
  *
  * Versions. [[claim]] makes `log/v<n>.txt` exist with its whole body or
  * not at all, and a lost claim is the only failure that throws
  * `FileAlreadyExistsException`.
  */
object Publish {

  /** Replace the parts `parts` (values of `partCol`) of `dir` with `rows`. */
  def partitions(s: SparkSession, dir: String, partCol: String, rows: DataFrame,
      parts: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = new Path(root, s"_stage_${UUID.randomUUID}")
    try rows.write.partitionBy(partCol).parquet(staged.toString)
    catch { case e: Throwable => fs.delete(staged, true); throw e }
    swap(s, dir, partCol, staged.toString, parts)
  }

  /** Move the parts `parts` of the partitioned dir `staged` into `dir`,
    * replacing (or, where `staged` has none, removing) each one there;
    * `staged` is deleted once all are in place.
    */
  def swap(s: SparkSession, dir: String, partCol: String, staged: String,
      parts: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val aside = new Path(root, s"_replaced_${UUID.randomUUID}")
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
    var undo = List.empty[() => Unit] // newest first
    try parts.distinct.foreach { v =>
      val name = ExternalCatalogUtils.getPartitionPathString(partCol, v)
      val (target, old, fresh) = (new Path(root, name), new Path(aside, name), new Path(staged, name))
      if (fs.exists(target)) {
        fs.mkdirs(aside)
        move(target, old)
        undo ::= (() => move(old, target))
      }
      if (fs.exists(fresh)) {
        move(fresh, target)
        undo ::= (() => move(target, fresh))
      }
    } catch {
      case e: Throwable =>
        try undo.foreach(_()) catch { case r: Throwable => e.addSuppressed(r); throw e }
        fs.delete(aside, true)
        fs.delete(new Path(staged), true)
        throw e
    }
    fs.delete(aside, true)
    fs.delete(new Path(staged), true)
    s.catalog.refreshByPath(dir)
  }

  /** Claim version `v` under the log dir `log`: `v<v>.txt` appears with all
    * of `body` in one step, or a lost race throws
    * `FileAlreadyExistsException`. The body goes to a private tmp file
    * first; locally `link(2)` publishes it (EEXIST if taken), elsewhere
    * rename-no-replace does (HDFS refuses an existing destination; the
    * object-store analogue is a conditional PUT). The tmp file never
    * outlives the call. Any other failure propagates as itself.
    */
  def claim(s: SparkSession, log: String, v: Int, body: String): Unit = {
    val logPath = new Path(log)
    val fs = logPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(logPath)
    val name = graft.sources.TtLog.commitName(v)
    val tmpName = s".$name.${UUID.randomUUID.toString.take(8)}.tmp"
    def lost = new FileAlreadyExistsException(s"version $v already committed under $log")
    if (Option(logPath.toUri.getScheme).getOrElse(fs.getUri.getScheme) == "file") {
      val local = java.nio.file.Paths.get(logPath.toUri.getPath)
      val tmp = local.resolve(tmpName)
      try {
        java.nio.file.Files.write(tmp, body.getBytes("UTF-8"))
        java.nio.file.Files.createLink(local.resolve(name), tmp)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => throw lost
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val tmp = new Path(logPath, tmpName)
      val won = try {
        val out = fs.create(tmp, false)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        fs.rename(tmp, new Path(logPath, name))
      } finally fs.delete(tmp, false)
      if (!won) throw lost
    }
  }
}
