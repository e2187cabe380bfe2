package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** src28/src29 — the SQL FRONT DOOR for the log-structured (tt) store: a
  * DataSource-V2 `TableCatalog` that serves tt stores as catalog tables,
  * so `spark.sql("SELECT ... FROM tt.<name> VERSION AS OF v")` reaches
  * up13's snapshot resolution and SQL `MERGE INTO tt.<name>` reaches
  * up18's transactional upsert (via [[graft.plans]]' injected resolution
  * rule) — the same front-end coverage the relational families get from
  * the 85-query SQL sweep, extended to the lakehouse tier. This is the
  * Delta/Iceberg integration shape: the table format registers a catalog
  * (`spark.sql.catalog.<name>`), `loadTable(ident, version)` IS the
  * `VERSION AS OF` contract, and row-level SQL verbs route to the
  * format's commit machinery.
  *
  * Scale notes: table resolution is log-metadata work (checkpoint +
  * suffix per up19); the read itself delegates to the snapshot read the
  * DataFrame tier uses. The V1 read bridge (`V1Scan`) trades DSv2
  * pushdown for zero duplicated scan machinery — the declared parity
  * queries aggregate whole snapshots, where pushdown has nothing to
  * prune; a pushdown-bearing SQL path would wire
  * [[TtSnapshotFileIndex]] into a DSv2 `FileScan` instead.
  */
object TtCatalog {
  /** table name → tt store dir (the catalog's backing "metastore"). */
  private[graft] val tables =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  def register(name: String, dir: String): Unit = tables.put(name, dir)

  /** Install the catalog under `tt` for this session (idempotent; lazy —
    * Spark instantiates it on first `tt.`-qualified reference).
    */
  def install(s: SparkSession): Unit =
    s.conf.set("spark.sql.catalog.tt", classOf[TtCatalog].getName)
}

/** One tt snapshot as a DSv2 table. The snapshot DataFrame is the
  * DV-aware `ttAsOf` read; `V1Scan` hands its rows to the SQL engine.
  */
final class TtTable(tableName: String, dir: String, version: Option[Int])
  extends Table with SupportsRead with SupportsWrite {

  private def snapshot(s: SparkSession): DataFrame = {
    val log = TtLog.listCommitted(s, dir)
    graft.ops.Mutations.ttAsOf(s, log, version.getOrElse(log.head))
  }

  // schema is resolved once at table load (analysis time), per-snapshot:
  // a pre-evolution version genuinely lacks up17's added column
  private lazy val resolvedSchema: StructType =
    snapshot(SparkSession.active).schema

  override def name(): String = tableName
  override def schema(): StructType = resolvedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  private[graft] def storeDir: String = dir

  /** src35 — SQL `INSERT INTO tt.x SELECT ...`: the analyzer aligns the
    * query to the table schema and plans AppendData; the V1 write
    * bridge hands the rows to [[graft.ops.Mutations.ttSqlInsert]] — one
    * plain append commit through [[graft.ops.Mutations.ttOcc]]. Overwrite
    * (INSERT OVERWRITE / truncate) is refused: rewriting a versioned
    * table's head wholesale is a restore or a COW verb, never a blind
    * overwrite.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "tt tables do not support INSERT OVERWRITE — use the " +
                  "engine's restore/COW verbs")
              require(version.isEmpty,
                "cannot INSERT into a pinned snapshot (VERSION/TIMESTAMP AS OF)")
              graft.ops.Mutations.ttSqlInsert(data.sparkSession, dir, data)
            }
          }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = resolvedSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = resolvedSchema
            override def buildScan(): RDD[Row] =
              snapshot(context.sparkSession).rdd
          }.asInstanceOf[T]
      }
    }
}

/** The catalog: read-only over registered stores; `loadTable(ident,
  * version)` is Spark's `VERSION AS OF` entry point. DDL verbs are
  * rejected — stores are created by the engine's commit machinery, not
  * SQL DDL (the declared scope of the front door).
  */
final class TtCatalog extends TableCatalog {
  private var catalogName: String = "tt"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    import scala.jdk.CollectionConverters._
    TtCatalog.tables.keys.asScala.toArray
      .map(n => Identifier.of(Array.empty, n))
  }

  private def dirOf(ident: Identifier): String = {
    val dir = TtCatalog.tables.get(ident.name)
    if (dir == null)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))
    dir
  }

  override def loadTable(ident: Identifier): Table =
    new TtTable(s"$catalogName.${ident.name}", dirOf(ident), None)

  /** `VERSION AS OF v` — the SQL spelling of up13's ttAsOf. */
  override def loadTable(ident: Identifier, version: String): Table =
    new TtTable(s"$catalogName.${ident.name} VERSION AS OF $version",
      dirOf(ident), Some(version.toInt))

  /** `TIMESTAMP AS OF t` (src34) — Spark hands MICROSECONDS since
    * epoch; resolve to the newest version whose commit timestamp
    * (`# ts=` in the commit, the injectable [[graft.ops.Mutations
    * .ttClockMs]] clock in the declared scenarios) is ≤ t — the
    * Delta/Iceberg floor-over-commit-times rule. O(commits) metadata.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    val v = graft.ops.Mutations.ttVersionAt(
      SparkSession.active, dir, timestamp / 1000L)
    new TtTable(s"$catalogName.${ident.name} TIMESTAMP AS OF $timestamp",
      dir, Some(v))
  }

  /** src38 — SQL `CREATE TABLE tt.x (...) LOCATION '...'` (and CTAS,
    * which the planner routes through createTable + the append write):
    * one `op=create` v0 commit carrying the declared schema, zero data
    * files. LOCATION is required — a tt table IS its directory tree,
    * and the engine refuses to invent one silently. Partitioning is
    * fixed to the layout key: PARTITIONED BY (day) or nothing.
    */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val s = SparkSession.active
    if (TtCatalog.tables.containsKey(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(catalogName, ident.name))
    require(partitions.isEmpty || (partitions.length == 1 &&
        partitions.head.references.flatMap(_.fieldNames).sameElements(
          Array("day"))),
      "tt tables are partitioned by the layout key (day) only")
    val loc = Option(properties.get("location")).getOrElse(
      throw new UnsupportedOperationException(
        "tt CREATE TABLE requires an explicit LOCATION"))
    if (columns.isEmpty) {
      // schema-less CREATE over an existing store RE-ATTACHES it (the
      // Delta pattern: `CREATE TABLE t USING delta LOCATION path` with
      // no columns adopts the table at `path`) — the inverse of the
      // unregister-only DROP below; the store's own log is the schema
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(TtLog.dir(loc))),
        s"schema-less CREATE TABLE requires an existing tt store at $loc")
      TtCatalog.register(ident.name, loc)
      return loadTable(ident)
    }
    val schema = org.apache.spark.sql.types.StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    graft.ops.Mutations.ttCreateTable(s, loc, schema)
    TtCatalog.register(ident.name, loc)
    loadTable(ident)
  }
  /** src36/src44 — `ALTER TABLE tt.x RENAME COLUMN a TO b` /
    * `DROP COLUMN c` / `ADD COLUMN c <type>`: the SQL spellings of
    * up26's column mapping and src44's metadata column add, each
    * landing as ONE metadata commit (no file touched — the whole point
    * of schema-as-metadata). ADD COLUMN must be top-level and nullable
    * (pre-add files READ the column as NULL; a non-null add would
    * certify a guarantee the existing rows cannot meet — Delta refuses
    * it the same way). Any other ALTER shape is refused loudly: type
    * changes would need a rewrite this format deliberately refuses to
    * hide behind DDL.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val s = SparkSession.active
    val dir = dirOf(ident)
    changes.foreach { change =>
      val verb: TtLog.Listing => Unit = change match {
        case r: TableChange.RenameColumn =>
          require(r.fieldNames.length == 1,
            "tt tables have no nested columns to rename")
          graft.ops.Mutations.ttRenameColumn(s, _, r.fieldNames.head, r.newName)
        case d: TableChange.DeleteColumn =>
          require(d.fieldNames.length == 1,
            "tt tables have no nested columns to drop")
          graft.ops.Mutations.ttDropColumn(s, _, d.fieldNames.head)
        case a: TableChange.AddColumn =>
          require(a.fieldNames.length == 1,
            "tt tables have no nested columns to add into")
          require(a.isNullable,
            "tt ADD COLUMN must be nullable: pre-add files read the new " +
              "column as NULL")
          graft.ops.Mutations.ttAddColumn(s, _, a.fieldNames.head, a.dataType)
        case other => throw new UnsupportedOperationException(
          "tt ALTER TABLE supports RENAME COLUMN, DROP COLUMN and " +
            s"ADD COLUMN only, got $other")
      }
      // one metadata commit, like every SQL verb
      graft.ops.Mutations.ttOcc(TtLog.listCommitted(s, dir))(verb)
    }
    loadTable(ident)
  }
  /** DROP TABLE: unregister ONLY — never delete the tree. Every tt
    * table is created with an explicit LOCATION, which in Spark/Delta
    * semantics makes it EXTERNAL, and Delta purges only MANAGED tables
    * on DROP: a user who declared a path keeps their data when they
    * drop the catalog entry (the pre-r17 purge irreversibly destroyed a
    * user-declared tree, and inconsistently spared CONVERTed stores —
    * equally external — just because they lack a createschema line).
    * The inverse is the schema-less re-attach CREATE above; a real
    * purge is an explicit filesystem delete the user makes knowingly.
    */
  override def dropTable(ident: Identifier): Boolean =
    TtCatalog.tables.remove(ident.name) != null
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("tt tables cannot be renamed")
}
