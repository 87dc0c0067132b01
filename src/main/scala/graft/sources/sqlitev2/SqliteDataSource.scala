package graft.sources.sqlitev2

import java.util.{Map => JMap}

import scala.jdk.OptionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-sqlite`: the pure-JVM SQLite b-tree reader
  * ([[graft.sources.SqliteFile]], ref `connection.py:77-78` — opening a
  * binary `.db` is a first-class reference entry point) surfaced as a
  * DataSourceV2 table:
  *
  * {{{
  * spark.read.format("graft-sqlite")
  *   .option("table", "forests").load("data/forestation.db")
  * }}}
  *
  * It is the one reader behind `graft.api.Database.open` on a `.db` file
  * (via `SqliteFile.open`). The decode runs EXECUTOR-side inside the scan
  * tasks, streaming pages through the b-tree walker one row at a time —
  * driver memory is O(1) for any file size. Column pruning drops unused
  * fields before the Catalyst conversion (the page decode itself is
  * whole-record by format: SQLite serializes each record as one
  * varint-headed blob).
  *
  * Parallelism: a rowid table's b-tree splits into disjoint subtrees
  * (`SqliteFile.scanLayout`: the first interior level with at least
  * `defaultParallelism` pages), and each task walks a contiguous run of
  * them, so partition order is rowid order and positional operators
  * (`limit`, `zipWithIndex`, `iloc`) keep base order. A WITHOUT ROWID
  * table is one task: its interior index cells hold rows, so its subtrees
  * are not a partition of its rows. The scan reports the table's page
  * bytes as its size, so joins against small `.db` tables broadcast.
  */
class SqliteDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-sqlite"

  private def required(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(throw new IllegalArgumentException(
      s"graft-sqlite: option '$key' is required" +
        (if (key == "table") " — which table of the database to read" else "")))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.sources.SqliteFile.tableSchema(
      required(options, "path"), required(options, "table"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    def prop(key: String): Option[String] = properties.entrySet().stream()
      .filter(_.getKey.equalsIgnoreCase(key))
      .map[String](_.getValue).findFirst().toScala
    new SqliteTable(
      prop("path").getOrElse(throw new IllegalArgumentException(
        "graft-sqlite: .load(path) is required")),
      prop("table").getOrElse(throw new IllegalArgumentException(
        "graft-sqlite: option 'table' is required")),
      schema)
  }
}

/** Catalog-routed face of the connector (`SupportsCatalogOptions`):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.forestdb",
  *   "graft.sources.sqlitev2.SqliteCatalog")
  * spark.conf.set("spark.sql.catalog.forestdb.path", "data/forestation.db")
  * spark.read.format("graft-sqlite-catalog")
  *   .option("catalog", "forestdb").option("table", "forests").load()
  * }}}
  *
  * The reader API resolves through the REGISTERED [[SqliteCatalog]]
  * (extractCatalog/extractIdentifier) instead of carrying a file path per
  * read — one configured path, every read against it consistent, and the
  * same `forestdb.main.forests` identity whether addressed from SQL or
  * the reader. A SEPARATE short name from `graft-sqlite` on purpose:
  * Spark routes EVERY `.load()` of a `SupportsCatalogOptions` provider
  * through a catalog, so mixing the interface into [[SqliteDataSource]]
  * would break its documented path-based `.load("file.db")` form (no
  * registered catalog to route to). Two names, two contracts, one table
  * implementation underneath.
  */
class SqliteCatalogSource extends SqliteDataSource
    with org.apache.spark.sql.connector.catalog.SupportsCatalogOptions {
  override def shortName(): String = "graft-sqlite-catalog"

  private def need(options: CaseInsensitiveStringMap, key: String): String =
    Option(options.get(key)).getOrElse(throw new IllegalArgumentException(
      s"graft-sqlite-catalog: option '$key' is required — this form reads " +
        "through a registered catalog (spark.sql.catalog.<name> = " +
        "graft.sources.sqlitev2.SqliteCatalog); use format 'graft-sqlite' " +
        "with .load(path) for direct file reads"))

  override def extractCatalog(
      options: CaseInsensitiveStringMap): String = need(options, "catalog")

  override def extractIdentifier(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.catalog.Identifier =
    org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("main"), need(options, "table"))
}

class SqliteTable(path: String, table: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-sqlite $path#$table"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SqliteScanBuilder(path, table, schema)
}

class SqliteScanBuilder(path: String, table: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve FILE field order: the reader projects by source index
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new SqliteScan(path, table, full, required)
}

class SqliteScan(path: String, table: String, full: StructType,
    required: StructType) extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-sqlite $path#$table (${required.fieldNames.mkString(", ")})"

  private lazy val tasks =
    org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
  // (subtree roots in rowid order, page bytes): read once per scan, on the
  // driver, from the interior pages only
  private lazy val (roots, bytes) =
    graft.sources.SqliteFile.scanLayout(path, table, tasks)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** Contiguous runs of subtree roots, at most `defaultParallelism` of them. */
  override def planInputPartitions(): Array[InputPartition] = {
    val n = roots.length
    val parts = math.min(n, tasks)
    val colIdx = required.fieldNames.map(full.fieldIndex)
    Array.tabulate[InputPartition](parts)(i => SqlitePartition(path, table,
      colIdx, roots.slice(i * n / parts, (i + 1) * n / parts).toArray))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SqliteReaderFactory(required)
}

/** One scan task: the subtrees rooted at `roots`, walked in order. */
case class SqlitePartition(path: String, table: String,
    colIdx: Array[Int], roots: Array[Int]) extends InputPartition

case class SqliteReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new SqliteRowReader(p.asInstanceOf[SqlitePartition], required)
}

/** Streams the partition's subtrees through the shared page decoder,
  * projecting each decoded record to the pruned column set and handing
  * Catalyst one InternalRow at a time.
  */
class SqliteRowReader(p: SqlitePartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val (_, rows, closer) =
    graft.sources.SqliteFile.streamTable(p.path, p.table, Some(p.roots.toSeq))
  private val convert =
    CatalystTypeConverters.createToCatalystConverter(required)
  private val idx: Array[Int] = p.colIdx // hoisted out of the per-row loop
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      val r = rows.next()
      val projected = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) { projected(i) = r.get(idx(i)); i += 1 }
      current = convert(org.apache.spark.sql.Row.fromSeq(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(projected)))
        .asInstanceOf[InternalRow]
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = closer()
}
