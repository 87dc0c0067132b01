package graft.api

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import scala.language.dynamics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog + entry point — the Spark-native analogue of the reference's
  * `Database` (reference: pandasdb/connection.py:17-261).
  *
  * Opens a directory of parquet/csv files (one table per file), registers each
  * as a temp view so raw SQL works, and hands out [[Table]] handles. Nothing
  * is read until an action runs; the handle itself stays O(KB) no matter the
  * data size — the reference's headline property (README.md:63-89) holds by
  * construction on Spark.
  */
final class Database private (
    val spark: SparkSession,
    tableMap: Map[String, DataFrame],
    val cache: QueryCache,
    val path: String,
    cacheDir: Option[String] = None,
    sourceFp: String = "") {

  /** Table names, like `db.tables` (reference: connection.py:112-120). */
  def tables: Seq[String] = tableMap.keys.toSeq.sorted

  /** Number of tables (reference `__len__`, connection.py:268-270). */
  def len: Int = tableMap.size

  /** Database(db_path=...) (reference `__repr__`, connection.py:272-274). */
  def repr: String = "Database(db_path='" + path + "')"

  /** `db['name']` (reference: connection.py:247-261). */
  def apply(tableName: String): Table = table(tableName)

  def table(tableName: String): Table =
    tableMap.get(tableName) match {
      case Some(df) => new Table(this, df, tableName, cache)
      case None => throw new InvalidTableError(
        s"table '$tableName' does not exist; available: ${tables.mkString(", ")}")
    }

  // names registered via createTempTable — the reference distinguishes
  // session-scoped TABLES (materialized) from VIEWS (named queries),
  // connection.py:122-148
  private val tempTableNames = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Temp VIEWS registered through THIS database — named lazy plans
    * (reference `db.views` / `temp_views`, connection.py:122-131,
    * 141-148): [[createView]], views defined in the opened file, and
    * `CREATE VIEW` statements executed via [[query]]. The reference's
    * connection owns its views; the Spark analogue must NOT list the whole
    * shared-session catalog, which would surface views belonging to other
    * Database instances in the same SparkSession. Names are confirmed
    * against the catalog so a view dropped behind our back disappears.
    */
  def views: Seq[String] =
    viewNames.toSeq.filter(spark.catalog.tableExists).sorted

  /** Session-scoped temp TABLES — materialized, dropped at exit (reference
    * `db.temp_tables`, connection.py:133-139: "lasts only as long as the
    * session"). The Spark-native analogue of CREATE TEMP TABLE is a
    * persisted plan registered under a name.
    */
  def tempTables: Seq[String] = tempTableNames.toSeq.sorted

  // views registered through THIS database, so exit() can drop them (the
  // reference's exit closes the connection, which drops all temp entities)
  private val viewNames = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Register a derived table as a named temp view (the reference's
    * TableView machinery; in Spark a view is just a named lazy plan).
    */
  def createView(name: String, table: Table): Unit = {
    table.toDf.createOrReplaceTempView(name)
    viewNames += name
  }

  /** Materialize a derived table as a session-scoped temp TABLE: the plan
    * is persisted (computed once, held in executor memory/disk like
    * SQLite's temp_master tables) and registered for SQL. Dropped and
    * unpersisted by [[exit]].
    */
  def createTempTable(name: String, table: Table): Unit = {
    val df = table.toDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.createOrReplaceTempView(name)
    tempTableNames += name
  }

  // persistent views defined IN the opened file (CREATE VIEW rows of
  // sqlite_master / a dump's DDL), registered by Database.open — listed by
  // [[views]] via the catalog and dropped by exit() like created views
  private[api] def adoptFileViews(names: Seq[String]): Unit = {
    viewNames ++= names; ()
  }

  /** Column names of a table or view (reference: connection.py:150-160
    * accepts `self.tables + self.views`; a Table handle is still only
    * handed out for base tables, matching `__getitem__`).
    */
  def getColumns(tableName: String): Seq[String] =
    if (tableMap.contains(tableName)) table(tableName).columns
    else if (views.contains(tableName) || tempTableNames.contains(tableName))
      spark.table(tableName).columns.toSeq
    else table(tableName).columns // throws InvalidTableError listing tables

  /** (name, Table) pairs (reference: connection.py:162-166). */
  def items: Seq[(String, Table)] = tables.map(n => n -> table(n))

  /** Raw SQL pass-through with duplicate-output-column rename
    * `a,a,a → a,a_2,a_3` (reference: connection.py:168-189 +
    * utils.py:177-197). Full Catalyst lifecycle: the registered temp views
    * resolve, optimizer picks broadcast vs sort-merge joins, AQE re-plans.
    */
  def query(sql: String, renameDuplicates: Boolean = true): DataFrame = {
    val out = spark.sql(sql)
    // a CREATE VIEW executed through this connection belongs to this
    // database (the reference's views live on the connection) — adopt it
    // so views/getColumns serve it and exit() drops it
    Database.createdViewName(sql).foreach { v =>
      if (spark.catalog.tableExists(v)) viewNames += v
    }
    // reference connection.py:168-189: rename_duplicates=False returns the
    // raw duplicate column names untouched (Spark DataFrames permit them;
    // they only fail on by-name resolution, same as the reference's pandas)
    if (renameDuplicates) Database.renameDuplicateCols(out) else out
  }

  /** Warm the scalar-stat cache for every column of every table, one Future
    * per table (reference: connection.py:91-99 + cache.py:94-125). Distinct-
    * heavy stats (mode/unique/valueCounts) are skipped for tables over
    * `distinctStatMaxRows` rows (reference guard: cache.py:120).
    */
  // tables whose stats have been fully warmed — the reference's readiness
  // counter (cache.py:62-68 `is_ready`)
  private val populatedTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True once every base table's stats are warmed (reference
    * `Cache.is_ready`, cache.py:62-68). Meaningful while a concurrent
    * populateCache is in flight.
    */
  def cacheReady: Boolean = tables.forall(populatedTables.contains)

  def populateCache(distinctStatMaxRows: Long = 1000000L): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = tables.map { tn =>
      Future {
        val t = table(tn)
        val small = t.len <= distinctStatMaxRows
        t.columns.foreach { cn =>
          val c = t.col(cn)
          c.count; c.nullCount; c.min; c.max
          if (c.isNumeric) { c.sum; c.avg; c.median }
          if (small) { c.mode; c.unique; c.valueCounts }
        }
        populatedTables.add(tn)
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
  }

  /** Drop this database's temp views and temp tables (reference `exit`,
    * connection.py:191-228; the SparkSession itself is owned by the caller).
    */
  /** Spill the stat memo to this database's cacheDir (no-op without one).
    * Called by [[exit]]; public so long-lived sessions can checkpoint the
    * warm cache without closing. A disabled or EMPTY cache never writes —
    * otherwise a cache-off (or failed-reload) session's exit would
    * overwrite a previous session's warm spill with nothing.
    */
  def saveCache(): Unit =
    if (cache.enabled && cache.size > 0)
      cacheDir.foreach(d =>
        try cache.saveTo(spark, d, Some(sourceFp))
        catch { case scala.util.control.NonFatal(_) => () })

  def exit(): Unit = {
    saveCache()
    tempTableNames.foreach { n =>
      try spark.table(n).unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
      spark.catalog.dropTempView(n)
    }
    tempTableNames.clear()
    viewNames.foreach { v =>
      // global temp views live in the global_temp database and need the
      // matching drop call — plain dropTempView would miss them silently
      if (v.startsWith("global_temp."))
        spark.catalog.dropGlobalTempView(v.stripPrefix("global_temp."))
      else spark.catalog.dropTempView(v)
    }
    viewNames.clear()
    tableMap.keys.foreach(n => spark.catalog.dropTempView(n))
    // a .sql-dump database pins the dump text in the block-manager cache;
    // exit is the reference's connection-close, so drop it here
    if (path.endsWith(".sql")) graft.sources.SqlDump.release(path)
  }

  /** Attribute-style access sugar, the reference's `db.orders.total`
    * (connection.py:230-245; SURVEY §7.4.6): `db.dyn.orders.total.avg`.
    * Unknown names raise the same InvalidTableError/InvalidColumnError.
    */
  def dyn: DynDatabase = new DynDatabase(this)
}

/** `db.dyn.<table>` — resolves table names as members via scala.Dynamic. */
final class DynDatabase private[api] (db: Database) extends scala.Dynamic {
  def selectDynamic(tableName: String): DynTable = new DynTable(db(tableName))
}

/** `db.dyn.<table>.<column>` — resolves column names as members. */
final class DynTable private[api] (val table: Table) extends scala.Dynamic {
  def selectDynamic(colName: String): Col = table.col(colName)
}

object Database {

  /** Register the persistent views a file-based database defines
    * (reference: `db.views` lists sqlite_master type='view' rows,
    * connection.py:123-131) as Spark temp views, returning the registered
    * names. Views may reference other views in any order, so registration
    * runs to a fixpoint; a view that never resolves fails LOUD — silently
    * dropping it would make `db.views` misrepresent the file. A view name
    * colliding with a table would shadow the table's temp view, so that
    * fails loud too (SQLite itself forbids the collision; seeing one means
    * a corrupt or hand-edited schema).
    */
  private[graft] def registerFileViews(spark: SparkSession, tableNames: Set[String],
      defs: Seq[graft.sources.SqlDump.ViewDef]): Seq[String] = {
    defs.find(v => tableNames.contains(v.name)).foreach { v =>
      throw new FileTypeError(
        s"view '${v.name}' collides with a table of the same name")
    }
    var pending = defs.toList
    var lastErr = Map.empty[String, Throwable]
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      val still = List.newBuilder[graft.sources.SqlDump.ViewDef]
      pending.foreach { v =>
        try {
          val df0 = spark.sql(v.body)
          val df = if (v.cols.nonEmpty) df0.toDF(v.cols: _*) else df0
          df.createOrReplaceTempView(v.name)
          progress = true
        } catch {
          case scala.util.control.NonFatal(e) =>
            lastErr += v.name -> e; still += v
        }
      }
      pending = still.result()
    }
    if (pending.nonEmpty) {
      val v = pending.head
      val why = Option(lastErr(v.name).getMessage).getOrElse("")
        .linesIterator.take(2).mkString(" ")
      throw new FileTypeError(
        s"view '${v.name}' could not be registered (its SELECT body does " +
          s"not resolve in Spark SQL): $why")
    }
    defs.map(_.name)
  }

  /** Open every `<table>.parquet` / `<table>.csv` in `dir` as a table.
    * Unsupported files raise FileTypeError if explicitly requested via
    * `open(path)` on a single file (reference: connection.py:77-78).
    */
  /** @param cacheDir when non-null, the stat cache persists across sessions:
    *   `open` reloads any prior spill from this directory and `exit()` (or
    *   `saveCache()`) writes the current memo back — the reference's cache
    *   story (cache.py:39-92) upgraded with durability. Caps still apply on
    *   reload. The spill is stamped with a fingerprint of the source files
    *   (path + size + mtime) and discarded when they changed since it was
    *   written — stale stats are never served. The fingerprint is taken at
    *   open: data under `dir` is assumed immutable for the session's
    *   lifetime (the same assumption every plan-keyed memo entry already
    *   makes in-session).
    */
  def open(
      spark: SparkSession,
      dir: String,
      cacheEnabled: Boolean = true,
      maxItemMb: Double = 2.0,
      maxTotalMb: Double = 100.0,
      populateCache: Boolean = false,
      cacheDir: String = null): Database = {
    // Tolerate TIMESTAMP(NANOS) parquet columns (read as epoch-nanos long).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val target = new File(dir)
    // single-file open, like the reference's Database('file.db')
    // (connection.py:64-78: unsupported extensions raise FileTypeError)
    if (target.isFile) {
      // .sql dumps are the reference's native input (connection.py:64-78,
      // utils.py:242-265) — replayed here by graft.sources.SqlDump instead
      // of SQLite. Binary .db files open through graft's own pure-JVM
      // reader, one lazy `graft-sqlite` scan per table
      // (graft.sources.SqliteFile.open).
      val isDump = dir.endsWith(".sql")
      if (isDump || Seq(".db", ".sqlite", ".sqlite3").exists(dir.endsWith)) {
        val tableMap =
          if (isDump) graft.sources.SqlDump.open(spark, dir)
          else graft.sources.SqliteFile.open(spark, dir)
        tableMap.foreach { case (n, df) => df.createOrReplaceTempView(n) }
        val fileViews = registerFileViews(spark, tableMap.keySet,
          if (isDump) graft.sources.SqlDump.viewDefs(spark, dir)
          else graft.sources.SqliteFile.views(dir))
        val qc = new QueryCache(cacheEnabled, maxItemMb, maxTotalMb)
        val fp = sourceFingerprint(Seq(target))
        if (cacheDir != null) qc.loadFrom(spark, cacheDir, Some(fp))
        val db = new Database(spark, tableMap, qc, dir, Option(cacheDir), fp)
        db.adoptFileViews(fileViews)
        return db
      }
      if (!dir.endsWith(".parquet") && !dir.endsWith(".csv"))
        throw new FileTypeError(
          s"unsupported file type '$dir' — expected .parquet, .csv, .sql, " +
            ".db, .sqlite or .sqlite3")
    }
    val files =
      if (target.isFile) Array(target)
      else Option(target.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile || f.isDirectory) // spark parquet "files" may be dirs
        .filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".csv") ||
          isPartitionedStore(f)) // graft.ops.Layout stores: dirs of key=value/ subdirs
    if (files.isEmpty)
      throw new FileTypeError(s"no .parquet or .csv tables found under '$dir'")
    val tableMap = files.map { f =>
      val isCsv = f.getName.endsWith(".csv")
      val stem = f.getName.replaceAll("\\.(parquet|csv)$", "")
      // CSV ingestion normalizes names like the reference's
      // convert_csvs_to_db (utils.py:233-238): spaces/hyphens -> '_' in the
      // table name and headers, headers lowercased
      val tname = if (isCsv) stem.replace(' ', '_').replace('-', '_') else stem
      val raw =
        if (isCsv) spark.read.option("header", "true").option("inferSchema", "true").csv(f.getPath)
        else spark.read.parquet(f.getPath)
      val df =
        if (isCsv)
          raw.toDF(raw.columns.toIndexedSeq
            .map(_.replace(' ', '_').replace('-', '_').toLowerCase): _*)
        else raw
      df.createOrReplaceTempView(tname)
      tname -> df
    }.toMap
    val qc = new QueryCache(cacheEnabled, maxItemMb, maxTotalMb)
    val fp = sourceFingerprint(files.toIndexedSeq)
    if (cacheDir != null) qc.loadFrom(spark, cacheDir, Some(fp))
    val db = new Database(spark, tableMap, qc, dir, Option(cacheDir), fp)
    if (populateCache) db.populateCache()
    db
  }

  /** A hive-partitioned parquet store as [[graft.ops.Layout]] writes them:
    * a directory whose data lives in `key=value/` subdirectories. Spark's
    * parquet reader handles the layout natively (partition column recovered
    * from the path, directory-level pruning on it), so such a store
    * registers as a table under its directory name — no `.parquet` suffix
    * required.
    */
  private def isPartitionedStore(f: File): Boolean =
    f.isDirectory && !f.getName.contains("=") && {
      val subs = Option(f.listFiles()).getOrElse(Array.empty[File])
      subs.nonEmpty && subs.exists(s => s.isDirectory && s.getName.contains("="))
    }

  /** Digest of the table sources' identity: absolute path + byte length +
    * mtime of every regular file (parquet "files" that are directories are
    * walked), order-insensitive. Stamped into cache spills so a reopened
    * session can tell whether the data a spill's stats describe is still
    * the data on disk.
    */
  private[api] def sourceFingerprint(files: Seq[File]): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    files.flatMap(walk)
      .map(f => s"${f.getAbsolutePath}|${f.length}|${f.lastModified}")
      .sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The view name a `CREATE [OR REPLACE] [GLOBAL] [TEMP[ORARY]] VIEW`
    * statement defines, or None for any other statement. A lexical scan
    * of the statement HEAD only (never the body — a string literal
    * containing "CREATE VIEW" cannot match because it cannot start the
    * statement). Leading `--` line comments and `/* */` block comments
    * are skipped first (a commented header must not hide the CREATE from
    * adoption). Backticked names are unquoted; qualified names keep
    * their last component — prefixed with `global_temp.` for GLOBAL temp
    * views, whose catalog home that is.
    */
  private[api] def createdViewName(sql: String): Option[String] = {
    // strip leading whitespace/comments without touching the body
    var head = sql
    var stripped = true
    while (stripped) {
      val t = head.dropWhile(_.isWhitespace)
      if (t.startsWith("--"))
        head = t.dropWhile(_ != '\n')
      else if (t.startsWith("/*")) {
        // Spark's bracketed comments NEST — scan with a depth counter,
        // not indexOf("*/"), or "/* a /* b */ c */" leaves "c */" behind
        var depth = 0
        var i = 0
        var end = -1
        while (end < 0 && i < t.length - 1) {
          if (t(i) == '/' && t(i + 1) == '*') { depth += 1; i += 2 }
          else if (t(i) == '*' && t(i + 1) == '/') {
            depth -= 1; i += 2
            if (depth == 0) end = i
          } else i += 1
        }
        if (end < 0) return None // unterminated comment: not a CREATE head
        head = t.substring(end)
      } else { head = t; stripped = false }
    }
    val ident = "`(?:[^`]|``)+`|[A-Za-z_][A-Za-z0-9_]*"
    val re = ("(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(GLOBAL\\s+)?" +
      "(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      s"((?:$ident)(?:\\s*\\.\\s*(?:$ident))*)").r
    def unquote(part: String): String = {
      val p = part.trim
      if (p.startsWith("`"))
        p.stripPrefix("`").stripSuffix("`").replace("``", "`")
      else p
    }
    re.findPrefixMatchOf(head).map { m =>
      // split on dots OUTSIDE backticks, keep the last component
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inTick = false
      m.group(2).foreach {
        case '`' => inTick = !inTick; sb.append('`')
        case '.' if !inTick => parts += sb.toString; sb.clear()
        case ch => sb.append(ch)
      }
      parts += sb.toString
      val name = unquote(parts.last)
      if (m.group(1) != null) s"global_temp.$name" else name
    }
  }

  /** `a,a,a → a,a_2,a_3` on query output (reference: utils.py:177-197). */
  private[api] def renameDuplicateCols(df: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val renamed = df.columns.map { cn =>
      val n = seen.getOrElse(cn, 0) + 1
      seen(cn) = n
      if (n == 1) cn else s"${cn}_$n"
    }
    if (renamed.sameElements(df.columns)) df else df.toDF(renamed.toIndexedSeq: _*)
  }
}
