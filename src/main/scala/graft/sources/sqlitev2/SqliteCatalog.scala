package graft.sources.sqlitev2

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A SQLite database file as a Spark `TableCatalog` — the catalog face of
  * the `graft-sqlite` connector (reference `connection.py:30-50`: a
  * Database IS a catalog of tables; `db.tables` lists them,
  * `db['name']` opens one). Registration is one conf pair:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.forestdb",
  *   "graft.sources.sqlitev2.SqliteCatalog")
  * spark.conf.set("spark.sql.catalog.forestdb.path", "data/forestation.db")
  * spark.sql("SHOW TABLES IN forestdb.main")
  * spark.sql("SELECT * FROM forestdb.main.forest_area")  // plain SQL, no API
  * }}}
  *
  * after which every table in the file is addressable from PURE SQL —
  * including joins against parquet tables in the same statement — with the
  * same executor-side streaming scan, column pruning, and fail-loud
  * virtual-table behavior as `spark.read.format("graft-sqlite")`
  * ([[SqliteDataSource]]; both resolve to the same [[SqliteTable]]).
  *
  * Namespace model mirrors SQLite's: one schema, `main` (ATTACH'd
  * databases are separate files — open them as separate catalogs). The
  * catalog is READ-ONLY: SQLite files are the reference's interchange
  * format here, not a writable store; create/alter/drop/rename fail with
  * UnsupportedOperationException rather than pretending.
  *
  * Scale note: catalog metadata calls (SHOW TABLES, schema inference)
  * decode only the sqlite_master page chain — O(schema), never O(data).
  * The data path is the connector's split scan; for files queried often
  * enough to want a columnar copy, `SqliteFile.ingest` writes parquet.
  */
class SqliteCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var dbPath: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    dbPath = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"graft-sqlite catalog '$name': option 'path' is required — set " +
          s"spark.sql.catalog.$name.path=/path/to/file.db"))
    require(new java.io.File(dbPath).isFile,
      s"graft-sqlite catalog '$name': '$dbPath' is not a readable file")
  }

  override def name(): String = catName

  private def main: Array[String] = Array("main")

  private def requireMain(ns: Array[String]): Unit =
    if (!(ns.isEmpty || ns.sameElements(main)))
      throw new NoSuchNamespaceException(ns)

  // ---- SupportsNamespaces: the single `main` schema -----------------------
  override def listNamespaces(): Array[Array[String]] = Array(main)
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array(main)
    else { requireMain(namespace); Array.empty }
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(main)
  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    requireMain(namespace)
    java.util.Collections.singletonMap("location", dbPath)
  }
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = throw readOnly("CREATE NAMESPACE")
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = throw readOnly("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = throw readOnly("DROP NAMESPACE")

  // ---- TableCatalog -------------------------------------------------------
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireMain(namespace)
    graft.sources.SqliteFile.tableNames(dbPath)
      .map(Identifier.of(main, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    requireMain(ident.namespace())
    // distinguish "no such table" (catalog-level, Spark renders TABLE_OR_
    // VIEW_NOT_FOUND) from "table exists but cannot decode" (virtual /
    // unparseable — those stay loud FileTypeErrors, never swallowed into
    // a not-found that would misdirect the user)
    if (!graft.sources.SqliteFile.tableNames(dbPath).contains(ident.name))
      throw new NoSuchTableException(ident)
    val schema: StructType =
      graft.sources.SqliteFile.tableSchema(dbPath, ident.name)
    new SqliteTable(dbPath, ident.name, schema)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = throw readOnly("CREATE TABLE")
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = throw readOnly("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean =
    throw readOnly("DROP TABLE")
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = throw readOnly("RENAME TABLE")

  private def readOnly(op: String) = new UnsupportedOperationException(
    s"graft-sqlite catalog '$catName' is read-only: $op is not supported " +
      "(ingest to parquet with graft.sources.SqliteFile.ingest to get a " +
      "writable copy)")
}
