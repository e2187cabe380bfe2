package graft.sources

import scala.collection.immutable.{SortedMap, SortedSet}
import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Mutations.TtStat

/** The tt lake's `_log`: the one place that knows its file names and its
  * line grammar. Writers take the names from here; readers go through a
  * [[Listing]].
  *
  * Files. A commit is `v<n>.txt`, claimed whole through
  * [[graft.engine.Publish.claim]]. Every `ttCheckpointInterval`-th commit
  * also gets `ckpt-v<n>.parquet`: one row per live file with its stats
  * (`file, numRows, lo, hi`), plus metadata rows `#schema:<i>:<op>`,
  * `#txn:<id>` and `#constraint:<name>|<expr>`.
  *
  * Lines. `a <file>` adds, `r <file>` removes, and `# key=value` carries
  * metadata: `stat=<file>|<rows>|<lo>|<hi>`, the schema ops `rename=`,
  * `dropcol=` and `addcolumn=`, `schemareset=`, `constraint=<name>|<expr>`,
  * `dropconstraint=`, `constraintreset=`, `txn=`, and free keys such as
  * `op=`, `ts=` and `createschema=`.
  */
private[graft] object TtLog {

  val dirName = "_log"
  def dir(table: String): String = s"$table/$dirName"
  def commitName(v: Int): String = s"v$v.txt"
  def checkpointPath(table: String, v: Int): Path = new Path(dir(table), s"ckpt-v$v.parquet")
  /** A staging dir for checkpoint `v`, hidden from readers by its dot. */
  def checkpointStaging(table: String, v: Int): String =
    s"${dir(table)}/.ckpt-v$v.${java.util.UUID.randomUUID.toString.take(8)}.tmp"
  /** The commit files, as a glob for a file stream tailing the log. */
  val commitGlob = "v*.txt"

  private val Commit = """v(\d+)\.txt""".r
  private val Checkpoint = """ckpt-v(\d+)\.parquet""".r

  /** The version of the commit file at `path`. */
  def versionOf(path: String): Int = new Path(path).getName match {
    case Commit(v) => v.toInt
    case other => sys.error(s"not a tt commit file: $other")
  }

  private def fs(s: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def read(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    body.split("\n").filter(_.nonEmpty).toSeq
  }

  // ---- the commit-line grammar ----

  sealed trait Entry
  final case class Add(file: String) extends Entry
  final case class Remove(file: String) extends Entry
  final case class Stat(file: String, stat: TtStat) extends Entry
  /** `rename=`, `dropcol=` or `addcolumn=`, kept whole as `key=value`. */
  final case class SchemaOp(op: String) extends Entry
  case object SchemaReset extends Entry
  final case class Constraint(name: String, expr: String) extends Entry
  final case class DropConstraint(name: String) extends Entry
  case object ConstraintReset extends Entry
  final case class Txn(id: String) extends Entry
  /** Any other `# key=value` line. */
  final case class Meta(key: String, value: String) extends Entry

  /** One commit line; None for a line no reader keys on. */
  def parse(line: String): Option[Entry] =
    if (line.startsWith("a ")) Some(Add(line.drop(2)))
    else if (line.startsWith("r ")) Some(Remove(line.drop(2)))
    else if (!line.startsWith("# ")) None
    else line.drop(2).split("=", 2) match {
      case Array("stat", v) => v.split('|') match {
        case Array(f, n, lo, hi) => Try(Stat(f, TtStat(n.toLong, lo.toLong, hi.toLong))).toOption
        case _ => None
      }
      case Array("rename" | "dropcol" | "addcolumn", _) => Some(SchemaOp(line.drop(2)))
      case Array("schemareset", _) => Some(SchemaReset)
      case Array("constraint", v) =>
        val i = v.indexOf('|')
        Some(Constraint(v.take(i), v.drop(i + 1)))
      case Array("dropconstraint", n) => Some(DropConstraint(n))
      case Array("constraintreset", _) => Some(ConstraintReset)
      case Array("txn", t) => Some(Txn(t))
      case Array(k, v) => Some(Meta(k, v))
      case _ => None
    }

  /** A commit body: `meta` (each `key=value`), the adds' stats, the adds,
    * the removes.
    */
  def commitBody(meta: Seq[String], stats: Seq[(String, TtStat)],
      adds: Seq[String], removes: Seq[String]): String =
    (meta.map("# " + _) ++
      stats.map { case (f, st) => s"# stat=$f|${st.numRows}|${st.lo}|${st.hi}" }.sorted ++
      adds.sorted.map("a " + _) ++ removes.sorted.map("r " + _)).mkString("\n")

  /** Commit `v`'s entries, or None if it is not committed; no listing. */
  def entries(s: SparkSession, table: String, v: Int): Option[Seq[Entry]] = {
    val p = new Path(dir(table), commitName(v))
    val f = fs(s, table)
    if (!f.exists(p)) None else Some(read(f, p).flatMap(parse))
  }

  // ---- what the log says as of a version ----

  /** The live files with their stats, and the table metadata. */
  final case class Snapshot(live: Seq[String], stats: Map[String, TtStat],
      schemaOps: Seq[String], txns: Set[String], constraints: Map[String, String])

  /** The commits in (after, upTo], folded in version order. A file's last
    * action decides whether it is in `adds`; the metadata after the last
    * reset is kept in order.
    */
  final class Suffix {
    /** Files whose last action is an add, each with its adding commit's stat. */
    val adds = mutable.LinkedHashMap.empty[String, Option[TtStat]]
    /** Every file added or removed, and every file added. */
    val touched, added = mutable.Set.empty[String]
    /** Adds whose commit carries no stat for them, in order. */
    val unstatted = mutable.ArrayBuffer.empty[String]
    val stats = mutable.Map.empty[String, TtStat]
    val schemaOps = mutable.ArrayBuffer.empty[String]
    var schemaReset = false
    /** Constraint changes: Some(expr) adds or replaces, None drops. */
    val constraintOps = mutable.ArrayBuffer.empty[(String, Option[String])]
    var constraintReset = false
    val txns = mutable.Set.empty[String]

    def schemaMapped: Boolean = schemaReset || schemaOps.nonEmpty

    /** The snapshot these commits make of `seed`. */
    def over(seed: Snapshot): Snapshot = {
      val cs = mutable.Map.from(if (constraintReset) Map.empty[String, String] else seed.constraints)
      constraintOps.foreach { case (n, e) => e.fold(cs -= n)(x => cs += n -> x) }
      Snapshot(seed.live.filterNot(touched) ++ adds.keys, seed.stats ++ stats,
        (if (schemaReset) Nil else seed.schemaOps) ++ schemaOps, seed.txns ++ txns, cs.toMap)
    }
  }

  // ---- checkpoints ----

  val checkpointSchema: StructType = StructType(Seq(StructField("file", StringType, false),
    StructField("numRows", LongType, true), StructField("lo", LongType, true),
    StructField("hi", LongType, true)))

  /** A metadata row of a checkpoint, and one that carries a schema op. */
  val metaRow: Column = col("file").startsWith("#")
  val schemaRow: Column = col("file").startsWith("#schema:")

  /** Checkpoint rows for `files`, each with its stat if it has one. */
  def fileRows(files: Iterable[(String, Option[TtStat])]): java.util.List[Row] = {
    val l = new java.util.ArrayList[Row]()
    files.foreach {
      case (f, Some(st)) => l.add(Row(f, st.numRows, st.lo, st.hi))
      case (f, None) => l.add(Row(f, null, null, null))
    }
    l
  }

  /** The rows of a checkpoint of `snap`. */
  def checkpointRows(snap: Snapshot): java.util.List[Row] = {
    val l = fileRows(snap.live.sorted.map(f => f -> snap.stats.get(f)))
    // the ops keep their order through their index
    snap.schemaOps.zipWithIndex.foreach { case (op, i) => l.add(Row(s"#schema:$i:$op", null, null, null)) }
    snap.txns.toSeq.sorted.foreach(t => l.add(Row(s"#txn:$t", null, null, null)))
    snap.constraints.toSeq.sortBy(_._1).foreach { case (n, e) =>
      l.add(Row(s"#constraint:$n|$e", null, null, null))
    }
    l
  }

  /** Parsed checkpoints, keyed on the file's identity (path, mtime,
    * length): a checkpoint never changes once published, but spec fixtures
    * rebuild stores in place. Not a [[graft.engine.Staged]] entry: the key
    * is one file, not a dataset, and the parse sits on the lake verbs'
    * per-call path, where a dataset fingerprint walk would be pure overhead.
    */
  private val ckptMemo = new java.util.concurrent.ConcurrentHashMap[String, Snapshot]

  private def readCheckpoint(s: SparkSession, fs: FileSystem, p: Path): Snapshot = {
    val st = fs.getFileStatus(p)
    ckptMemo.computeIfAbsent(s"${p.toUri.getPath}:${st.getModificationTime}:${st.getLen}", _ => {
      val rows = s.read.schema(checkpointSchema).parquet(p.toString).collect().toSeq
      val (meta, files) = rows.partition(_.getString(0).startsWith("#"))
      val schemaOps = mutable.ArrayBuffer.empty[(Int, String)]
      val txns = mutable.Set.empty[String]
      val constraints = mutable.Map.empty[String, String]
      meta.map(_.getString(0)).foreach {
        case r if r.startsWith("#schema:") =>
          val b = r.stripPrefix("#schema:")
          val i = b.indexOf(':')
          schemaOps += b.take(i).toInt -> b.drop(i + 1)
        case r if r.startsWith("#txn:") => txns += r.stripPrefix("#txn:")
        case r if r.startsWith("#constraint:") =>
          val b = r.stripPrefix("#constraint:")
          val i = b.indexOf('|')
          constraints(b.take(i)) = b.drop(i + 1)
        case other => sys.error(s"unknown checkpoint metadata row: $other")
      }
      Snapshot(files.map(_.getString(0)),
        files.filterNot(_.isNullAt(1))
          .map(r => r.getString(0) -> TtStat(r.getLong(1), r.getLong(2), r.getLong(3))).toMap,
        schemaOps.sortBy(_._1).map(_._2).toSeq, txns.toSet, constraints.toMap)
    })
  }

  // ---- reading ----

  /** One `listStatus` of `table`'s log (empty if it has none): its commits
    * by version and its checkpoint versions. Every file read through the
    * listing counts in [[opened]].
    */
  final class Listing private[TtLog] (s: SparkSession, val table: String, fs: FileSystem,
      val commits: SortedMap[Int, Path], val checkpoints: SortedSet[Int]) {
    private var n = 0

    /** Log and checkpoint files read through this listing. */
    def opened: Int = n

    /** The newest committed version, or -1. */
    def head: Int = commits.lastOption.fold(-1)(_._1)

    /** The version a commit made from this listing claims: the one right
      * after the snapshot it read.
      */
    def next: Int = head + 1

    /** A new listing of the same log. */
    def relist: Listing = list(s, table)

    /** The newest checkpoint at or below `asOf`. */
    def checkpointAt(asOf: Int): Option[Int] = checkpoints.rangeTo(asOf).lastOption

    /** Commit `v`'s non-empty lines. */
    def lines(v: Int): Seq[String] = { n += 1; read(fs, commits(v)) }

    def entries(v: Int): Seq[Entry] = lines(v).flatMap(parse)

    /** Checkpoint `cv`'s content (parsed once per file per JVM). */
    def checkpoint(cv: Int): Snapshot = { n += 1; readCheckpoint(s, fs, checkpointPath(table, cv)) }

    /** Checkpoint `cv` as a relation of `checkpointSchema`, metadata rows included. */
    def checkpointFrame(cv: Int): DataFrame = {
      n += 1
      s.read.schema(checkpointSchema).parquet(checkpointPath(table, cv).toString)
    }

    /** The one fold over commit lines: commits in (after, upTo]. */
    def suffix(after: Int, upTo: Int): Suffix = {
      val x = new Suffix
      commits.range(after + 1, upTo + 1).keys.foreach { v =>
        val es = entries(v)
        val own = es.collect { case Stat(f, st) => f -> st }.toMap
        es.foreach {
          case Add(f) =>
            x.adds(f) = own.get(f); x.touched += f; x.added += f
            if (!own.contains(f)) x.unstatted += f
          case Remove(f) => x.adds -= f; x.touched += f
          case Stat(f, st) => x.stats(f) = st
          case SchemaOp(op) => x.schemaOps += op
          case SchemaReset => x.schemaOps.clear(); x.schemaReset = true
          case Constraint(c, e) => x.constraintOps += c -> Some(e)
          case DropConstraint(c) => x.constraintOps += c -> None
          case ConstraintReset => x.constraintOps.clear(); x.constraintReset = true
          case Txn(t) => x.txns += t
          case Meta(_, _) =>
        }
      }
      x
    }

    /** The snapshot at `asOf`: the newest checkpoint at or below it, then
      * the commits after it; without a checkpoint, every commit.
      */
    def snapshot(asOf: Int): Snapshot = {
      val cv = checkpointAt(asOf)
      val seed = cv.fold(Snapshot(Nil, Map.empty, Nil, Set.empty, Map.empty))(checkpoint)
      suffix(cv.getOrElse(-1), asOf).over(seed)
    }
  }

  def list(s: SparkSession, table: String): Listing = {
    val f = fs(s, table)
    val names = try f.listStatus(new Path(dir(table))).toSeq.map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    new Listing(s, table, f,
      SortedMap.from(names.flatMap(p => p.getName match {
        case Commit(v) => Some(v.toInt -> p)
        case _ => None
      })),
      SortedSet.from(names.map(_.getName).collect { case Checkpoint(v) => v.toInt }))
  }

  /** The newest committed version of `table`, or -1. */
  def head(s: SparkSession, table: String): Int = list(s, table).head

  /** [[list]] for a caller that needs a committed version. */
  def listCommitted(s: SparkSession, table: String): Listing = {
    val l = list(s, table)
    require(l.head >= 0, s"no committed tt version under $table")
    l
  }
}
