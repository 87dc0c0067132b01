package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Handle on a (possibly derived) table — the Spark-native analogue of the
  * reference's `Table`/`TableView` (reference: pandasdb/table.py:109-541).
  *
  * A `Table` stores only `(db, plan, name, cache)` — never data — exactly like
  * the reference stores `(conn, name, cache)` (table.py:113-127). Derived
  * tables (filter/sort/limit/slice) are new lazy DataFrames, which is what the
  * reference fakes with SQLite TEMP VIEWs (table.py:498-541): in Spark the
  * logical plan IS the view, so no view machinery is needed.
  *
  * Row order / positional access: the reference leans on SQLite `_rowid_`;
  * Spark DataFrames are unordered. We mint a `__rowid` lazily with
  * `zipWithIndex` (partition-order-stable, no single-partition window — the
  * scale path named in SURVEY.md §7.4.1) only when a positional op is used;
  * purely relational ops never pay for it and keep full pushdown.
  */
final class Table private[api] (
    private[api] val db: Database,
    private val df: DataFrame,
    val name: String,
    private[api] val cache: QueryCache,
    private val ordered: Boolean = false) {

  import Table.ROWID

  def spark: SparkSession = df.sparkSession

  /** The underlying (user-visible) DataFrame. */
  def toDf: DataFrame = df

  /** User-visible columns — `__rowid` never leaks (reference: table.py:532-541). */
  def columns: Seq[String] = df.columns.toSeq.filter(_ != ROWID)

  def col(colName: String): Col = {
    if (!columns.contains(colName))
      throw new InvalidColumnError(s"column '$colName' does not exist in table '$name'")
    new Col(this, colName)
  }
  def apply(colName: String): Col = col(colName)

  // ---- size (reference §2.4 A1/A2) -------------------------------------

  /** Row count, memoized like the reference's cached COUNT(*)
    * (table.py:155-160) and its iloc length cache (table.py:21-22).
    */
  def len: Long = cache.memo(df.select(lit(1)))(df.count())

  def shape: (Long, Int) = (len, columns.length)

  // ---- projection (reference §2.2) -------------------------------------

  def select(cols: Seq[String]): Table = {
    val missing = cols.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new InvalidColumnError(
        s"columns ${missing.mkString("[", ", ", "]")} do not exist in table '$name'")
    new Table(db, df.select(cols.map(functionsCol): _*), name, cache, ordered)
  }
  private def functionsCol(s: String): Column = org.apache.spark.sql.functions.col(s)

  // ---- filter (reference §2.3 F1) --------------------------------------

  def filter(e: Expr): Table = {
    if (e.table != name)
      throw new ExpressionError(
        s"expression belongs to table '${e.table}', not '$name'")
    new Table(db, df.filter(e.cond), name, cache, ordered)
  }

  // ---- sort / limit / sample (reference §2.5) --------------------------

  /** Sort by one or more columns; `spec` maps column → ascending?
    * (reference: table.py:286-318 accepts str / list / dict).
    * NULLs sort first on ASC, matching SQLite (SURVEY.md §4.3.5; Spark's
    * default `asc` = nulls-first already matches, kept explicit).
    */
  def sortValues(spec: Seq[(String, Boolean)]): Table = {
    spec.foreach { case (cn, _) =>
      if (!columns.contains(cn))
        throw new InvalidColumnError(s"column '$cn' does not exist in table '$name'")
    }
    val sortCols = spec.map { case (cn, asc0) =>
      if (asc0) asc_nulls_first(cn) else desc_nulls_last(cn)
    }
    new Table(db, df.orderBy(sortCols: _*), name, cache, ordered = true)
  }
  def sortValues(colName: String, ascending: Boolean = true): Table =
    sortValues(Seq(colName -> ascending))

  /** First n rows in the table's current order (base parquet order for a base
    * table — reference `limit` keeps base order, table.py:320-329).
    * For an already-sorted view this is a distributed TakeOrdered top-k; for a
    * base table it is a per-partition-prefix scan via the minted row index.
    */
  def limit(n: Int): Table =
    if (ordered) new Table(db, df.limit(n), name, cache, ordered)
    else {
      // base-order head-n without minting the row index:
      // monotonically_increasing_id is (partitionId << 33) + offset, whose
      // ordering IS base order — so this compiles to TakeOrderedAndProject
      // (n rows per partition, no zipWithIndex job, stays columnar)
      val mid = monotonically_increasing_id()
      new Table(db,
        df.withColumn(ROWID, mid).orderBy(ROWID).limit(n).drop(ROWID),
        name, cache, ordered)
    }

  /** Exactly-n random sample without replacement (reference: table.py:195-203
    * does ORDER BY RANDOM() LIMIT n; Bernoulli `df.sample` is NOT exact —
    * SURVEY.md §4.3.6). Distributed top-k on a random key: no full sort.
    */
  def sample(n: Int, seed: Long = scala.util.Random.nextLong()): Table =
    new Table(db, df.orderBy(rand(seed)).limit(n), name, cache)

  // ---- positional access (reference §2.5 O5-O7, IndexLoc table.py:19-106) --

  /** df + 0-based `__rowid` in stable base order. zipWithIndex preserves
    * partition order and intra-partition order, and for a sorted parent the
    * range-partitioned sort order — so the index is globally consistent
    * without a single-partition window.
    */
  private[api] lazy val indexed: DataFrame = {
    // memoized on the canonicalized plan, not per Table instance: positional
    // sessions re-derive equal-plan tables constantly (db.t.iloc(0),
    // db.t.iloc(1), ... each mints a new Table) and would re-run
    // zipWithIndex for each without the shared memo
    val key = (spark, df.queryExecution.analyzed.canonicalized)
    Table.indexedMemo.computeIfAbsent(key, { _ =>
      val schema = df.schema.add(ROWID, LongType, nullable = false)
      val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
      spark.createDataFrame(rdd, schema)
    })
  }

  private def checkBounds(i: Long): Long = {
    val n = len
    val idx = if (i < 0) n + i else i
    if (idx < 0 || idx >= n)
      // wording matches the reference's asserted regex "Given index out of
      // range" (tests/test_table.py:224-233)
      throw new IndexOutOfBoundsError(s"Given index out of range: $i (table length $n)")
    idx
  }

  /** iloc[int] — supports negative indices (reference: table.py:58-106). */
  def iloc(i: Long): Row = {
    val idx = checkBounds(i)
    indexed.filter(functionsCol(ROWID) === idx).drop(ROWID).head()
  }

  /** iloc[start:stop:step] over the current order. */
  def iloc(start: Long, stop: Long, step: Long = 1): Seq[Row] =
    ilocSlice(Some(start), Some(stop), step)

  /** Full Python `slice.indices` semantics (reference table.py:83-89 feeds
    * `index.indices(self.len)` straight from the user's slice): omitted
    * bounds default by step sign, out-of-range bounds clamp, negative
    * indices count from the end, negative step walks backwards
    * (`iloc[::-1]` = reversed table), zero step raises. The selection is a
    * distributed modular filter on the row index — never an IN-list of
    * every position — then one ordered collect of only the surviving rows.
    */
  def ilocSlice(start: Option[Long] = None, stop: Option[Long] = None,
      step: Long = 1): Seq[Row] = {
    if (step == 0) throw new IllegalArgumentException("slice step cannot be zero")
    val n = len
    // clamp exactly as CPython slice.indices: valid positions are
    // [0, n) going forward, [-1, n-1] going backward
    val (lower, upper) = if (step < 0) (-1L, n - 1) else (0L, n)
    def clamp(vOpt: Option[Long], dflt: Long): Long = vOpt match {
      case None => dflt
      case Some(v0) =>
        val v = if (v0 < 0) v0 + n else v0
        math.min(math.max(v, lower), upper)
    }
    val s0 = clamp(start, if (step < 0) upper else lower)
    val s1 = clamp(stop, if (step < 0) lower else upper)
    val rid = functionsCol(ROWID)
    val selected =
      if (step > 0) {
        if (s0 >= s1) return Seq.empty
        indexed.filter(rid >= s0 && rid < s1 && (rid - s0) % step === 0)
          .orderBy(asc(ROWID))
      } else {
        if (s0 <= s1) return Seq.empty
        indexed.filter(rid <= s0 && rid > s1 && (lit(s0) - rid) % (-step) === 0)
          .orderBy(desc(ROWID))
      }
    selected.collect().map(r => Row.fromSeq(r.toSeq.dropRight(1))).toSeq
  }

  /** iloc[[i1, i2, ...]] — duplicates and arbitrary order preserved by a
    * driver-side reorder of the (small) collected result
    * (reference: table.py:91-104 does exactly this client-side).
    */
  def iloc(ids: Seq[Long]): Seq[Row] = {
    val resolved = ids.map(checkBounds)
    val fetched = indexed
      .filter(functionsCol(ROWID).isin(resolved.distinct: _*))
      .collect()
      .map(r => r.getLong(r.length - 1) -> Row.fromSeq(r.toSeq.dropRight(1)))
      .toMap
    resolved.map(fetched)
  }

  // ---- per-cell map (reference §2.8 U2) --------------------------------

  /** Apply a string function to every string cell (typed analogue of the
    * reference's applymap, table.py:211-234; nulls pass through).
    */
  def applymapStr(f: String => String): Table = {
    val u = udf((s: String) => if (s == null) null else f(s))
    val cols = df.schema.fields.map { fld =>
      if (fld.dataType == StringType && fld.name != ROWID) u(functionsCol(fld.name)).as(fld.name)
      else functionsCol(fld.name)
    }
    new Table(db, df.select(cols.toSeq: _*), name, cache, ordered)
  }

  /** Apply a numeric function to every numeric cell (the non-string half of
    * the reference's any-type applymap, table.py:211-234; nulls pass through
    * — its `ignore_na=True` default). Numeric cells surface as double, like
    * the reference's Python funcs returning float.
    */
  def applymapNum(f: Double => Double): Table = {
    val u = udf((d: java.lang.Double) =>
      if (d == null) null else java.lang.Double.valueOf(f(d.doubleValue())))
    val numeric: Set[DataType] =
      Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    val cols = df.schema.fields.map { fld =>
      val isNum = numeric.contains(fld.dataType) ||
        fld.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
      if (isNum && fld.name != ROWID)
        u(functionsCol(fld.name).cast(DoubleType)).as(fld.name)
      else functionsCol(fld.name)
    }
    new Table(db, df.select(cols.toSeq: _*), name, cache, ordered)
  }

  // ---- group-by (the reference's own unchecked TODO, README.md:643;
  //      M5 extension in SURVEY §7.2) -------------------------------------

  /** Grouped aggregation: `t.groupBy(Seq("a")).agg("x" -> "sum", "y" -> "avg")`.
    * Executes as partial (map-side) + final hash aggregation — one shuffle
    * on the group keys.
    */
  def groupBy(keys: Seq[String]): GroupedTable = {
    val missing = keys.filterNot(columns.contains)
    if (missing.nonEmpty)
      throw new InvalidColumnError(
        s"columns ${missing.mkString("[", ", ", "]")} do not exist in table '$name'")
    new GroupedTable(this, keys)
  }

  /** (column_name, column_handle) pairs (reference `Table.items`,
    * table.py:204-209).
    */
  def items: Seq[(String, Col)] = columns.map(cn => cn -> col(cn))

  /** Typed view: `Dataset[T]` over the same lazy plan, for callers who want
    * compile-time row types (`db.t("region").toDs[Region]`). Column names
    * resolve by case-class field name; stays columnar until a typed lambda
    * actually needs objects.
    */
  def toDs[T: org.apache.spark.sql.Encoder]: org.apache.spark.sql.Dataset[T] =
    df.as[T]

  // ---- stats (reference §2.4 A13) --------------------------------------

  def describe: Map[String, Map[String, Any]] =
    columns.map(cn => cn -> col(cn).describe).toMap

  /** Pandas-style string rendering (reference `__repr__`, table.py:445-474):
    * first/last rows with an ellipsis row when the table is longer than
    * `maxRows`, right-aligned cells, and the `[n rows x m columns]` footer.
    * Reads at most `maxRows` rows (two positional slices), never the table.
    */
  def repr(maxRows: Int = 10): String = {
    val (n, m) = shape
    val half = math.max(maxRows / 2, 1)
    val (idx, rows) =
      if (n <= maxRows) ((0L until n), iloc(0L, n))
      else ((0L until half) ++ (n - half until n),
        iloc(0L, half) ++ iloc(n - half, n))
    def cell(v: Any): String = if (v == null) "NaN" else v.toString
    val grid = rows.map(r => (0 until m).map(i => cell(r.get(i))))
    val shrunk = n > maxRows
    val header = "" +: columns
    val body = idx.zip(grid).map { case (i, cs) => i.toString +: cs }
    val withEll =
      if (!shrunk) body
      else {
        val (top, bot) = body.splitAt(half)
        (top :+ Seq.fill(m + 1)("...")) ++ bot
      }
    val widths = (header +: withEll).transpose.map(_.map(_.length).max)
    def fmt(r: Seq[String]): String =
      r.zip(widths).map { case (s, w) => " " * (w - s.length) + s }
        .mkString("  ").stripTrailing()
    (fmt(header) +: withEll.map(fmt)).mkString("\n") +
      s"\n\n[$n rows x $m columns]"
  }

  // ---- equality (reference §2.7, table.py:480-495) ---------------------

  /** Strict shape + cell-wise equality in row order (null-safe), via a
    * row-index equi-join — the distributed analogue of the reference's
    * ordered tuple compare.
    */
  def equalsTable(other: Table): Boolean = {
    if (columns != other.columns) return false
    if (len != other.len) return false
    val l = indexed.alias("l")
    val r = other.indexed.alias("r")
    val joined = l.join(r, functionsCol(s"l.$ROWID") === functionsCol(s"r.$ROWID"))
    val neq = columns.map(cn =>
      !(functionsCol(s"l.$cn") <=> functionsCol(s"r.$cn"))).reduce(_ || _)
    joined.filter(neq).limit(1).count() == 0L
  }

  // ---- materialization (reference §2.1 S7-S9) --------------------------

  /** Rows; with a limit, the FIRST n in the table's order (reference
    * data(limit) is head-n, table.py:183-193).
    */
  def data(limit: Int = -1): Seq[Row] =
    (if (limit >= 0) this.limit(limit).toDf else df).collect().toSeq

  def head(n: Int = 5): Seq[Row] = this.limit(n).toDf.collect().toSeq

  def iterator: Iterator[Row] = {
    val it = df.toLocalIterator()
    new Iterator[Row] { def hasNext = it.hasNext; def next() = it.next() }
  }
}

/** Result of Table.groupBy: aggregate with (column -> function) pairs.
  * Functions: count, sum, avg, min, max, median, count_distinct.
  * Numeric-only functions enforce the same type guard as Col.
  */
final class GroupedTable private[api] (parent: Table, keys: Seq[String]) {

  def agg(specs: (String, String)*): Table = {
    require(specs.nonEmpty, "agg requires at least one (column -> function) pair")
    val df = parent.toDf
    val aggCols = specs.map { case (cn, fn) =>
      if (!parent.columns.contains(cn))
        throw new InvalidColumnError(s"column '$cn' does not exist in table '${parent.name}'")
      val numericOnly = Set("sum", "avg", "median")
      if (numericOnly(fn) && !df.schema(cn).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        throw new ColumnTypeError(s"cannot compute $fn() of non-numeric column '$cn'")
      val c = org.apache.spark.sql.functions.col(cn)
      val out = s"${fn}_$cn"
      fn match {
        case "count" => org.apache.spark.sql.functions.count(c).as(out)
        case "count_distinct" => org.apache.spark.sql.functions.countDistinct(c).as(out)
        case "sum" => org.apache.spark.sql.functions.sum(c).as(out)
        case "avg" => org.apache.spark.sql.functions.avg(c).as(out)
        case "min" => org.apache.spark.sql.functions.min(c).as(out)
        case "max" => org.apache.spark.sql.functions.max(c).as(out)
        case "median" => org.apache.spark.sql.functions.median(c).as(out)
        case other => throw new IllegalArgumentException(s"unknown aggregate '$other'")
      }
    }
    new Table(parent.db,
      df.groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
        .agg(aggCols.head, aggCols.tail: _*),
      parent.name, parent.cache)
  }
}

object Table {
  private[api] val ROWID = "__rowid"

  private[api] val indexedMemoMax = 64

  /** (session, canonicalized plan) → row-indexed DataFrame. A synchronized
    * access-order LinkedHashMap: true LRU eviction one entry at a time (a
    * wholesale clear() at the cap meant a thundering rebuild of every live
    * memoized plan), and computeIfAbsent runs under the map's mutex so
    * concurrent callers observe ONE `indexed` frame per plan (the ApiSpec
    * `eq` invariant). Entries of a closed session simply age out.
    */
  private[api] val indexedMemo: java.util.Map[
      (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
          (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame](
          indexedMemoMax, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame]): Boolean =
          size() > indexedMemoMax
      })
}
