package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for SQL dump files (`.sql`) — the reference engine's native
  * ingestion format (connection.py:64-78 routes `.sql` through
  * `load_sql_and_create_db`, utils.py:242-265, which replays the script
  * into SQLite). The reference's own fixture `data/parch-and-posey.sql`
  * is this shape: `CREATE TABLE` blocks plus one `INSERT INTO t VALUES
  * (...);` statement per line, which is also what `sqlite3 .dump` and
  * `pg_dump --inserts` emit.
  *
  * Spark-first split of the work:
  *  - DDL is tiny and ordered → parsed on the driver (non-INSERT lines are
  *    filtered out distributed, then collected with their line numbers so
  *    multi-line `CREATE TABLE` blocks reassemble in order).
  *  - INSERT rows are the bulk and embarrassingly parallel → parsed inside
  *    `mapPartitions` on executors, one pass per table over the cached
  *    text, then cast column-wise from the parsed strings to the DDL
  *    types. No driver-side row loop at any size.
  *
  * The binary SQLite `.db` format is handled separately by [[SqliteFile]]
  * (pure-JVM b-tree reader) — this build deliberately adds no
  * dependencies beyond Spark (README "Interchange formats").
  *
  * Type affinities follow SQLite's text-first model so results match the
  * reference: integer-family → long, numeric/decimal(p,s) → decimal,
  * real/float/double → double, everything else (including `timestamp`,
  * which SQLite stores as TEXT and the reference reads as strings) → string.
  */
object SqlDump {

  final case class ColDef(name: String, sqlType: String) {
    def sparkType: DataType = {
      val t = sqlType.toLowerCase
      val dec = """(?:numeric|decimal)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
      t match {
        case dec(p, s) => DecimalType(p.toInt, s.toInt)
        case _ if t.startsWith("int") || t.startsWith("bigint") ||
          t.startsWith("smallint") || t.startsWith("tinyint") => LongType
        case _ if t.startsWith("real") || t.startsWith("float") ||
          t.startsWith("double") => DoubleType
        case _ if t.startsWith("bool") => BooleanType
        case _ => StringType // text, varchar, bpchar, timestamp, date, blob…
      }
    }
  }
  final case class TableDef(name: String, cols: Seq[ColDef]) {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.sparkType, nullable = true)))
  }

  /** One SQL identifier in any of SQLite's four quoting styles —
    * `"x"` (standard, `""` escapes), `'x'` (string-literal-as-name, the
    * form FTS module shadow tables dump with), `` `x` `` (MySQL style),
    * `[x]` (MS style) — or bare. Non-capturing; embed in larger regexes.
    */
  private[sources] val identPat =
    """(?:"(?:[^"]|"")*"|'(?:[^']|'')*'|`(?:[^`]|``)*`|\[[^\]]*\]|[\w.]+)"""

  /** Strip one level of identifier quoting, collapsing doubled-delimiter
    * escapes. Bare schema-qualified names keep the last dot component
    * (quoted names are a single identifier — a dot inside quotes is part
    * of the name, never a qualifier).
    */
  private[sources] def unquoteIdent(raw: String): String = {
    val t = raw.trim
    t.headOption match {
      case Some(q @ ('"' | '\'' | '`')) if t.length >= 2 && t.last == q =>
        t.substring(1, t.length - 1).replace(s"$q$q", s"$q")
      case Some('[') if t.length >= 2 && t.last == ']' =>
        t.substring(1, t.length - 1)
      case _ => t.split('.').last
    }
  }

  /** Split `s` into (leading identifier, remainder) honoring all four
    * quoting styles — a quoted column name may contain spaces, so a bare
    * whitespace split would truncate it. Returns the UNQUOTED name plus
    * whether it was quoted (a quoted `"primary"` is a column named
    * primary, not a PRIMARY KEY constraint).
    */
  private def splitIdent(s: String): (String, String, Boolean) = {
    val t = s.trim
    val closeIdx: Int = t.headOption match {
      case Some(q @ ('"' | '\'' | '`')) =>
        var i = 1; var end = -1
        while (i < t.length && end < 0) {
          if (t.charAt(i) == q) {
            if (i + 1 < t.length && t.charAt(i + 1) == q) i += 2 else end = i
          } else i += 1
        }
        require(end > 0, s"unterminated quoted identifier in: $t")
        end
      case Some('[') =>
        val e = t.indexOf(']')
        require(e > 0, s"unterminated [bracketed] identifier in: $t")
        e
      case _ => -1
    }
    if (closeIdx >= 0)
      (unquoteIdent(t.substring(0, closeIdx + 1)),
        t.substring(closeIdx + 1).trim, true)
    else {
      val toks = t.split("\\s+", 2)
      (toks(0), if (toks.length > 1) toks(1) else "", false)
    }
  }

  /** Parse `CREATE TABLE name ( col type, ... );` blocks from the DDL text
    * (INSERTs already removed). Constraint lines (PRIMARY KEY, FOREIGN KEY,
    * UNIQUE, CHECK) are skipped; quoted identifiers are unquoted (any of
    * the four SQLite quoting styles).
    */
  private[sources] def parseDdl(ddl: String): Seq[TableDef] = {
    // the closing paren may be followed by table options before the ';'
    // (sqlite3 .dump emits them: WITHOUT ROWID, STRICT, or both in either
    // order) — without this alternative the whole table silently vanishes
    // from the parse
    val create = ("""(?is)CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(""" +
      identPat +
      """)\s*\((.*?)\)\s*(?:(?:WITHOUT\s+ROWID|STRICT)\s*(?:,\s*(?:WITHOUT\s+ROWID|STRICT)\s*)*)?;""").r
    create.findAllMatchIn(ddl).map { m =>
      val name = unquoteIdent(m.group(1))
      // split the column body on commas that sit at paren depth 0
      val body = m.group(2)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; val cur = new StringBuilder
      body.foreach {
        case ',' if depth == 0 => parts += cur.toString; cur.clear()
        case ch =>
          if (ch == '(') depth += 1 else if (ch == ')') depth -= 1
          cur += ch
      }
      if (cur.nonEmpty) parts += cur.toString
      val constraint = Set("primary", "foreign", "unique", "check", "constraint")
      val cols = parts.map(_.trim).filter(_.nonEmpty)
        .map(splitIdent)
        .filterNot { case (n, _, quoted) => !quoted && constraint(n.toLowerCase) }
        .map { case (n, rest, _) => ColDef(n, if (rest.nonEmpty) rest else "text") }
      TableDef(name, cols.toSeq)
    }.toSeq
  }

  /** A persistent view stored in the database file: name, optional
    * explicit output-column list, and the SELECT body (reference
    * connection.py:123-131 lists these from `sqlite_master
    * WHERE type='view'`; Database.open registers each as a Spark temp
    * view so `db.views` / `get_columns` / raw SQL see them).
    */
  final case class ViewDef(name: String, cols: Seq[String], body: String)

  /** Parse `CREATE [TEMP] VIEW [IF NOT EXISTS] name [(cols)] AS select`
    * statements out of DDL text. Statement-split and token-scanned
    * quote-aware, so `CREATE VIEW` inside a string literal or a view body
    * containing `;` in a string cannot confuse it. Views whose text does
    * not fit the shape fail loud (a silently dropped view would make
    * `db.views` lie about the file's contents).
    */
  private[sources] def parseViews(ddl: String): Seq[ViewDef] = {
    val head = """(?is)^\s*CREATE\s+(?:TEMP(?:ORARY)?\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?""".r
    splitStatements(ddl).flatMap { stmt =>
      head.findFirstMatchIn(stmt).map { m =>
        var i = m.end
        def ws(): Unit = { while (i < stmt.length && stmt.charAt(i).isWhitespace) i += 1 }
        def ident(): String = {
          ws()
          val q0 = if (i < stmt.length) stmt.charAt(i) else ' '
          if (q0 == '"' || q0 == '\'' || q0 == '`' || q0 == '[') {
            val closeCh = if (q0 == '[') ']' else q0
            val end = stmt.indexOf(closeCh, i + 1)
            require(end > i, s"unterminated quoted name in: $stmt")
            val n = stmt.substring(i + 1, end); i = end + 1; n
          } else {
            val start = i
            while (i < stmt.length &&
              (stmt.charAt(i).isLetterOrDigit || "_.$".contains(stmt.charAt(i)))) i += 1
            require(i > start, s"cannot parse view name in: ${stmt.take(80)}")
            stmt.substring(start, i)
          }
        }
        // schema-qualified `main.v` (or `main."v"`) keeps the last
        // component, like tables; a DOT INSIDE a quoted name is part of it
        def quoteNext(): Boolean =
          i < stmt.length && "\"'`[".contains(stmt.charAt(i))
        ws()
        var lastQuoted = quoteNext()
        var name0 = ident()
        ws()
        while (i < stmt.length && stmt.charAt(i) == '.') {
          i += 1; ws(); lastQuoted = quoteNext(); name0 = ident(); ws()
        }
        val name = if (lastQuoted) name0 else name0.split('.').last
        // optional explicit output-column list before AS
        val cols: Seq[String] =
          if (i < stmt.length && stmt.charAt(i) == '(') {
            var depth = 0
            val start = i
            var end = -1
            var j = i
            while (j < stmt.length && end < 0) {
              stmt.charAt(j) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) end = j
                case '\'' => j += 1; while (j < stmt.length && stmt.charAt(j) != '\'') j += 1
                case '"' => j += 1; while (j < stmt.length && stmt.charAt(j) != '"') j += 1
                case _ =>
              }
              j += 1
            }
            require(end > start, s"unbalanced column list in view '$name'")
            i = end + 1
            stmt.substring(start + 1, end).split(',')
              .map(_.trim.replaceAll("\"", "")).filter(_.nonEmpty).toSeq
          } else Seq.empty
        ws()
        require(stmt.regionMatches(true, i, "as", 0, 2) &&
          (i + 2 >= stmt.length || !stmt.charAt(i + 2).isLetterOrDigit),
          s"expected AS in CREATE VIEW '$name'")
        ViewDef(name, cols, stmt.substring(i + 2).trim)
      }
    }
  }

  /** Split SQL text into `;`-terminated statements, honoring `'…'` / `"…"`
    * quoting (with `''` escapes) and `--` / block comments; a trailing
    * unterminated statement is emitted too (sqlite_master stores CREATE
    * text without the `;`).
    */
  private[sources] def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < sql.length) {
      sql.charAt(i) match {
        case ';' => out += cur.toString; cur.clear(); i += 1
        case '\'' =>
          cur += '\''; i += 1
          while (i < sql.length &&
            !(sql.charAt(i) == '\'' &&
              (i + 1 >= sql.length || sql.charAt(i + 1) != '\''))) {
            cur += sql.charAt(i)
            if (sql.charAt(i) == '\'') { cur += '\''; i += 2 } else i += 1
          }
          if (i < sql.length) { cur += '\''; i += 1 }
        case '"' =>
          cur += '"'; i += 1
          while (i < sql.length && sql.charAt(i) != '"') { cur += sql.charAt(i); i += 1 }
          if (i < sql.length) { cur += '"'; i += 1 }
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case '/' if i + 1 < sql.length && sql.charAt(i + 1) == '*' =>
          i += 2
          while (i + 1 < sql.length &&
            !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i += 2
        case c => cur += c; i += 1
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.result().filter(_.trim.nonEmpty)
  }

  /** The view definitions of an opened dump. Reuses the session-cached
    * dump text when [[open]] has already pinned it; otherwise one local
    * pass over the file's non-INSERT lines (same driver-size cap as the
    * DDL collect).
    */
  def viewDefs(spark: SparkSession, path: String): Seq[ViewDef] =
    openDumps.get(dumpKey(spark, path)) match {
      case Some(lines) =>
        parseViews(collectDdl(spark, path, lines))
      case None =>
        val src = scala.io.Source.fromFile(path, "UTF-8")
        try {
          val sb = new StringBuilder
          src.getLines().foreach { l =>
            if (!l.trim.toUpperCase.startsWith("INSERT ")) {
              sb.append(l).append('\n')
              require(sb.length <= maxDdlBytes,
                s"'$path': non-INSERT content exceeds $maxDdlBytes bytes")
            }
          }
          parseViews(sb.toString)
        } finally src.close()
    }

  /** Column order of an explicit `INSERT INTO t (a, b, c) VALUES` list,
    * or None for the bare positional form.
    */
  private[sources] def insertColumns(stmt: String): Option[Seq[String]] = {
    val m = ("""(?is)^\s*INSERT\s+INTO\s+""" + identPat +
      """\s*\(([^)]*)\)\s*VALUES""").r
    m.findFirstMatchIn(stmt).map(_.group(1).split(',')
      .map(c => unquoteIdent(c.trim)).toSeq)
  }

  // The VALUES keyword AFTER the table name (and optional column list) —
  // anchoring here instead of indexOf("VALUES") keeps a table named e.g.
  // `tvalues` with an explicit column list from starting tuple parsing at
  // the column list and injecting a garbage row.
  private val valuesAnchor =
    ("""(?is)^\s*INSERT\s+INTO\s+""" + identPat +
      """\s*(?:\([^)]*\)\s*)?VALUES""").r

  /** Parse the VALUES tuples of one INSERT statement into rows of
    * nullable strings. Handles `''`-escaped quotes inside literals, bare
    * NULLs, and multi-tuple `VALUES (...),(...)` statements.
    *
    * FAILS LOUDLY (IllegalArgumentException) instead of dropping data when
    * the statement is truncated or malformed: an unterminated quote or
    * tuple at end-of-input (the signature of a quoted value containing a
    * literal newline under line-based splitting — sqlite3 .dump and
    * pg_dump --inserts emit those), a tuple whose field count differs from
    * `arity`, or an INSERT that yields no complete tuple at all (the
    * `INSERT INTO t VALUES\n(...)` multi-line style).
    */
  private[sources] def parseValues(stmt: String, arity: Int): Seq[Seq[String]] = {
    def fail(reason: String): Nothing = throw new IllegalArgumentException(
      s"SqlDump: $reason in INSERT statement " +
        s"'${stmt.take(120)}${if (stmt.length > 120) "…" else ""}' — if the dump " +
        "contains multi-line INSERT statements (quoted values with embedded " +
        "newlines, or tuples on their own lines), re-export with one complete " +
        "statement per line (sqlite3 .dump does this unless the DATA contains " +
        "newlines).")
    val i0 = valuesAnchor.findFirstMatchIn(stmt) match {
      case Some(m) => m.end
      case None => return Seq.empty
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var row = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false; var inTuple = false; var sawQuote = false
    var i = i0
    def endField(): Unit = {
      val raw = cur.toString
      row += (if (!sawQuote && raw.trim.equalsIgnoreCase("null")) null
              else if (sawQuote) raw else raw.trim)
      cur.clear(); sawQuote = false
    }
    while (i < stmt.length) {
      val ch = stmt.charAt(i)
      if (inQuote) {
        if (ch == '\'') {
          if (i + 1 < stmt.length && stmt.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inQuote = false
        } else cur += ch
      } else ch match {
        case '\'' =>
          // whitespace between the comma and the opening quote is not part
          // of the literal ("VALUES (1, 'y')")
          if (!sawQuote && cur.toString.trim.isEmpty) cur.clear()
          inQuote = true; sawQuote = true
        case '(' if !inTuple => inTuple = true
        case ')' if inTuple =>
          endField()
          if (row.size != arity)
            fail(s"tuple arity ${row.size} != expected $arity")
          out += row.toSeq
          row = scala.collection.mutable.ArrayBuffer.empty[String]
          inTuple = false
        case ',' if inTuple => endField()
        case _ if inTuple => cur += ch
        case _ => // between tuples: skip commas/whitespace/semicolon
      }
      i += 1
    }
    if (inQuote) fail("unterminated quoted literal at end of line")
    if (inTuple) fail("unterminated VALUES tuple at end of line")
    if (out.isEmpty) fail("no complete VALUES tuple on the statement line")
    out.toSeq
  }

  // Dump text persisted per (session, path) — keyed on the session too,
  // else a second session opening the same path would get a Dataset bound
  // to the first (possibly stopped) session. Released via [[release]]
  // (Database.exit calls it) — without a release hook every .sql open
  // would pin the full file in the block-manager cache for the session
  // lifetime.
  private val openDumps =
    scala.collection.concurrent.TrieMap.empty[String, Dataset[String]]

  private def dumpKey(spark: SparkSession, path: String): String =
    s"${System.identityHashCode(spark)}|$path"

  /** Unpersist the cached dump text for `path` across all sessions
    * (idempotent). The returned DataFrames re-parse from disk afterwards;
    * callers keeping tables hot should persist those tables instead.
    */
  def release(path: String): Unit =
    openDumps.keys.filter(_.endsWith(s"|$path")).foreach { k =>
      openDumps.remove(k).foreach(ds =>
        try ds.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
    }

  /** Collected non-INSERT text cap: DDL for any sane schema is KBs. A dump
    * whose bulk is COPY blocks or comments would otherwise flood the driver
    * through the DDL collect — fail with a crisp message instead.
    */
  private val maxDdlBytes = 8L << 20

  /** Open every table in the dump as a typed DataFrame. */
  def open(spark: SparkSession, path: String): Map[String, DataFrame] = {
    import spark.implicits._
    val key = dumpKey(spark, path)
    // putIfAbsent, not getOrElseUpdate: the TrieMap default getOrElseUpdate
    // is not atomic, so two concurrent opens could each persist the dump
    // and the loser's pinned Dataset would be unreachable by release().
    // Building the (lazy, unexecuted) Dataset twice is free. The loser's
    // handle is simply DROPPED, not unpersisted: Spark's CacheManager keys
    // cache entries on the logical plan, so both persist() calls marked the
    // SAME entry — an unpersist here would evict the winner's cache too.
    // One entry exists either way, and release() reaches it via the winner.
    val candidate = spark.read.textFile(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lines: Dataset[String] = openDumps.putIfAbsent(key, candidate) match {
      case Some(existing) => existing
      case None => candidate
    }
    // a failed open must not leave the dump pinned with no owner to
    // release it — drop the cache entry before rethrowing
    try openImpl(spark, path, lines)
    catch { case e: Throwable =>
      openDumps.remove(key).foreach(ds =>
        try ds.unpersist(false) catch { case scala.util.control.NonFatal(_) => () })
      throw e
    }
  }

  /** DDL text of a dump: drop the INSERT bulk distributed, collect the
    * remnant in file order (zipWithIndex preserves a single text file's
    * line order). Guarded: the non-INSERT remnant must stay driver-sized.
    */
  private def collectDdl(spark: SparkSession, path: String,
      lines: Dataset[String]): String = {
    import spark.implicits._
    val ddlBytes = lines
      .filter(l => !l.trim.toUpperCase.startsWith("INSERT "))
      .agg(sum(length(col("value")))).as[Option[Long]].head().getOrElse(0L)
    require(ddlBytes <= maxDdlBytes,
      s"'$path': non-INSERT content is $ddlBytes bytes (cap $maxDdlBytes). " +
        "This reader collects DDL to the driver and expects the dump bulk to " +
        "be one-line INSERT statements (sqlite3 .dump / pg_dump --inserts " +
        "form); COPY-based or comment-heavy dumps are not supported.")
    lines.rdd.zipWithIndex()
      .filter { case (l, _) => !l.trim.toUpperCase.startsWith("INSERT ") }
      .collect().sortBy(_._2).map(_._1).mkString("\n")
  }

  private def openImpl(spark: SparkSession, path: String,
      lines: Dataset[String]): Map[String, DataFrame] = {
    import spark.implicits._
    val ddl = collectDdl(spark, path, lines)
    val defs = parseDdl(ddl)
    require(defs.nonEmpty, s"no CREATE TABLE statements found in '$path'")

    defs.map { td =>
      // any of the four quoting styles (the dump's INSERT quoting need not
      // match its CREATE quoting), plus bare
      val quotedForms = Seq(td.name, s""""${td.name}"""", s"'${td.name}'",
        s"`${td.name}`", s"[${td.name}]")
      val prefixes = quotedForms
        .flatMap(q => Seq(s"INSERT INTO $q ", s"INSERT INTO $q("))
        .map(_.toUpperCase)
      val arity = td.cols.size
      val ddlOrder = td.cols.map(_.name)
      val strSchema = StructType(td.cols.map(c => StructField(c.name, StringType, true)))
      val parsed = lines
        .filter(l => { val u = l.trim.toUpperCase; prefixes.exists(u.startsWith) })
        .mapPartitions(_.flatMap { stmt =>
          // an explicit (a, c, b) column list reorders/sparsifies the tuple:
          // map each parsed tuple back into DDL order, nulling omitted cols
          insertColumns(stmt) match {
            case None => parseValues(stmt, arity)
            case Some(cs) =>
              val idx = cs.map(_.toLowerCase).zipWithIndex.toMap
              parseValues(stmt, cs.size).map { vals =>
                ddlOrder.map(c => idx.get(c.toLowerCase).map(vals).orNull)
              }
          }
        })(org.apache.spark.sql.Encoders.kryo[Seq[String]])
      val rows = parsed.rdd.map(vals => Row.fromSeq(vals))
      val typed = spark.createDataFrame(rows, strSchema)
        .select(td.cols.map(c => col(c.name).cast(c.sparkType).as(c.name)): _*)
      td.name -> typed
    }.toMap
  }
}
