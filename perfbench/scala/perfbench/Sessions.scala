package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.DoubleType

import graft.api.Database

/** One distinct call of a session script. `run` builds its handles from the
  * database, the way a user's `db.lineitem.l_quantity.median()` does;
  * `plans` builds the plans its `QueryCache` lookups key, one per lookup.
  */
final case class Call(id: Int, kind: String, desc: String, cacheable: Boolean,
    ordered: Boolean, plans: Database => Seq[DataFrame], run: Database => Any) {
  def answer(db: Database): Any =
    if (ordered) Canon.of(run(db)) else Canon.unordered(run(db))
}

/** The seeded call script of `sqlite_session`. */
object Script {
  val tables = Seq("lineitem", "orders", "customer")
  private val numeric = Map(
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"),
    "customer" -> Seq("c_acctbal", "c_nationkey"))
  private val lowCard = Map(
    "lineitem" -> Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_discount", "l_tax"),
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "customer" -> Seq("c_mktsegment", "c_nationkey"))
  private val anyCol = Map(
    "lineitem" -> (numeric("lineitem") ++ Seq("l_returnflag", "l_shipdate", "l_suppkey")),
    "orders" -> Seq("o_totalprice", "o_orderpriority", "o_orderdate", "o_custkey"),
    "customer" -> Seq("c_acctbal", "c_mktsegment", "c_name", "c_nationkey"))
  /** A near-unique column: its value counts are larger than the cache's
    * per-item cap, so they are never cached.
    */
  private val (hcTable, hcCol) = ("lineitem", "l_extendedprice")
  /** Unique row order per table, for sorts whose answer must not hinge on ties. */
  private val uniqueKey = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"), "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"))

  /** Distinct calls per kind, then how often each call is repeated after its
    * first run. Stats repeat twice, so two thirds of stat calls are repeats;
    * the value counts over the cache's per-item cap repeat once, as each run
    * costs a full recomputation; the other kinds run once per pass.
    */
  val composition: Seq[(String, Int, Int)] = Seq(
    ("len", 3, 2), ("count", 1, 2), ("min", 1, 2), ("max", 1, 2), ("sum", 1, 2),
    ("avg", 1, 2), ("median", 1, 2), ("mode", 1, 2), ("unique", 1, 2),
    ("value_counts", 1, 2), ("describe", 1, 2), ("value_counts_hc", 1, 1),
    ("filter_head", 3, 0), ("sort_limit", 1, 0), ("iloc_int", 1, 0),
    ("iloc_slice", 1, 0), ("iloc_ids", 1, 0), ("groupby_agg", 1, 0))

  /** Distinct calls of the script for `seed`. The target columns are the
    * same for every seed, so every seed's script does the same work; the
    * seed draws the literals, row counts, row positions and sort directions.
    */
  def calls(seed: Long, rows: Map[String, Long]): Seq[Call] = {
    val shape = new Random(0L)
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(shape.nextInt(xs.length))
    var next = 0
    def mk(kind: String, desc: String, cacheable: Boolean, ordered: Boolean,
        plans: Database => Seq[DataFrame] = _ => Nil)(run: Database => Any): Call = {
      next += 1
      Call(next, kind, desc, cacheable, ordered, plans, run)
    }
    def stat(kind: String, t: String, c: String, ordered: Boolean = true)(run: Database => Any) =
      mk(kind, s"$t.$c", true, ordered, db => keyPlans(kind, db(t).toDf, c))(run)
    composition.zipWithIndex.flatMap { case ((kind, n, _), k) =>
      (0 until n).map { i =>
        // slots rotate over the tables, so every table gets a share of kinds
        val t = tables((k + i) % tables.length)
        kind match {
          case "len" => mk(kind, t, true, true, db => keyPlans(kind, db(t).toDf, ""))(_(t).len)
          case "count" => val c = pick(anyCol(t)); stat(kind, t, c)(_(t)(c).count)
          case "min" => val c = pick(anyCol(t)); stat(kind, t, c)(_(t)(c).min)
          case "max" => val c = pick(anyCol(t)); stat(kind, t, c)(_(t)(c).max)
          case "sum" => val c = pick(numeric(t)); stat(kind, t, c)(_(t)(c).sum)
          case "avg" => val c = pick(numeric(t)); stat(kind, t, c)(_(t)(c).avg)
          case "median" => val c = pick(numeric(t)); stat(kind, t, c)(_(t)(c).median)
          case "mode" => val c = pick(lowCard(t)); stat(kind, t, c)(_(t)(c).mode)
          case "unique" => val c = pick(lowCard(t)); stat(kind, t, c, ordered = false)(_(t)(c).unique)
          case "value_counts" => val c = pick(lowCard(t)); stat(kind, t, c)(_(t)(c).valueCounts)
          case "describe" => val c = pick(numeric(t)); stat(kind, t, c)(_(t)(c).describe)
          case "value_counts_hc" => stat(kind, hcTable, hcCol)(_(hcTable)(hcCol).valueCounts)
          case "filter_head" => val (d, run) = filterHead(i, rnd); mk(kind, d, false, true)(run)
          case "sort_limit" =>
            val c = pick(numeric(t)); val asc = rnd.nextBoolean(); val n = 5 + rnd.nextInt(20)
            val spec = (c -> asc) +: uniqueKey(t).map(_ -> true)
            mk(kind, s"$t.$c asc=$asc limit $n", false, true)(_(t).sortValues(spec).limit(n).data())
          case "iloc_int" =>
            val t2 = Seq("orders", "customer")(i % 2); val i0 = (rnd.nextDouble() * rows(t2)).toLong
            mk(kind, s"$t2[$i0]", false, true)(_(t2).iloc(i0))
          case "iloc_slice" =>
            val t2 = Seq("orders", "customer")(i % 2); val s = (rnd.nextDouble() * (rows(t2) - 50)).toLong
            val len = 5 + rnd.nextInt(40)
            mk(kind, s"$t2[$s:${s + len}]", false, true)(_(t2).iloc(s, s + len))
          case "iloc_ids" =>
            val t2 = Seq("orders", "customer")(i % 2)
            val ids = Seq.fill(3 + rnd.nextInt(8))((rnd.nextDouble() * rows(t2)).toLong)
            mk(kind, s"$t2${ids.mkString("[", ",", "]")}", false, true)(_(t2).iloc(ids))
          case "groupby_agg" =>
            val g = pick(lowCard(t)); val c = pick(numeric(t).filter(_ != g))
            val fn = pick(Seq("sum", "avg", "min", "max", "count"))
            mk(kind, s"$t by $g $fn($c)", false, false)(_(t).groupBy(Seq(g)).agg(c -> fn).data())
        }
      }
    }
  }

  /** The plans a stat call of `kind` on column `c` of `df` hands to
    * `QueryCache.memo`, built as `graft.api.Table` and `Col` build them:
    * one per cache lookup, so seven for a numeric `describe`.
    */
  def keyPlans(kind: String, df: DataFrame, c: String): Seq[DataFrame] = {
    def col = F.col(c)
    def dbl = col.cast(DoubleType)
    kind match {
      case "len" => Seq(df.select(F.lit(1)))
      case "count" => Seq(df.select(col).agg(F.count(col)))
      case "min" => Seq(df.agg(F.min(col)))
      case "max" => Seq(df.agg(F.max(col)))
      case "sum" => Seq(df.agg(F.sum(dbl)))
      case "avg" => Seq(df.agg(F.avg(dbl)))
      case "median" => Seq(df.agg(F.median(dbl)))
      case "mode" => Seq(df.select(col).groupBy(col).count())
      case "unique" => Seq(df.select(col).distinct())
      case "value_counts" | "value_counts_hc" =>
        Seq(df.filter(col.isNotNull).groupBy(col).agg(F.count(F.lit(1)).as("count"))
          .orderBy(F.desc("count"), F.asc(c)))
      case "describe" =>
        Seq("len", "count", "min", "max", "sum", "avg", "median").flatMap(keyPlans(_, df, c))
    }
  }

  /** `filter(a && b)` or `filter(a || b)` with seeded literals, then `head`. */
  private def filterHead(slot: Int, rnd: Random): (String, Database => Any) = {
    val n = 5 + rnd.nextInt(10)
    slot % 3 match {
      case 0 =>
        val q = 1 + rnd.nextInt(45); val d = rnd.nextInt(10) / 100.0
        (s"lineitem q>$q && disc<=$d head $n", db => {
          val t = db("lineitem"); t.filter(t("l_quantity") > q && t("l_discount") <= d).head(n)
        })
      case 1 =>
        val p = 1000 + rnd.nextInt(400000); val s = Seq("F", "O", "P")(rnd.nextInt(3))
        (s"orders price<$p || status=$s head $n", db => {
          val t = db("orders"); t.filter(t("o_totalprice") < p || t("o_orderstatus") === s).head(n)
        })
      case _ =>
        val b = -999 + rnd.nextInt(10000); val seg = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")(rnd.nextInt(3))
        (s"customer bal>$b && seg=$seg head $n", db => {
          val t = db("customer"); t.filter(t("c_acctbal") > b && t("c_mktsegment") === seg).head(n)
        })
    }
  }

  /** Play order: every call once, plus its repeats, each repeat placed after
    * the call's first run. The order is the same for every seed: calls share
    * cached sub-results (`describe` computes `sum`; `iloc` computes `len`),
    * so the order decides which first runs are hits.
    */
  def sequence(calls: Seq[Call]): Seq[Call] = {
    val rnd = new Random(0L)
    val reps = composition.map(c => c._1 -> c._3).toMap
    val firsts = mutable.Queue(rnd.shuffle(calls): _*)
    val left = mutable.Map(calls.map(c => c.id -> reps(c.kind)): _*)
    val seen = mutable.ArrayBuffer.empty[Call]
    val out = mutable.ArrayBuffer.empty[Call]
    var repeatsLeft = left.values.sum
    while (firsts.nonEmpty || repeatsLeft > 0) {
      val open = seen.filter(c => left(c.id) > 0)
      val takeRepeat = open.nonEmpty &&
        (firsts.isEmpty || rnd.nextInt(firsts.size + repeatsLeft) >= firsts.size)
      if (takeRepeat) {
        val c = open(rnd.nextInt(open.length))
        left(c.id) -= 1; repeatsLeft -= 1; out += c
      } else {
        val c = firsts.dequeue(); seen += c; out += c
      }
    }
    out.toSeq
  }
}

/** `sqlite_session`: a seeded script of `graft.api` calls on a SQLite file,
  * played in passes. Each pass starts from an empty result cache, so every
  * pass has the same mix of first runs and repeats. After the window, every
  * call is checked against the same call on the parquet files of the same
  * tables.
  */
final class Session(spark: SparkSession, rec: Recorder, source: String,
    parquetDir: String) extends Workload {
  private var db: Database = _

  def setUp(res: RunResult, seed: Long): Unit = {
    // open + first scan of every session table, repeated: set-up time is
    // reported as the median of these
    for (_ <- 1 to Workload.SetupReps) {
      val t0 = System.nanoTime()
      db = rec.span("api.open")(Database.open(spark, source))
      val t1 = System.nanoTime()
      rec.span("sources.first_scan")(Script.tables.foreach(db(_).toDf.count()))
      val t2 = System.nanoTime()
      res.setupOpenS += (t2 - t0) / 1e9
      res.sourceOpenMs += (t1 - t0) / 1e6
      res.sourceScanMs += (t2 - t1) / 1e6
    }
    res.sourceBytes = Workload.pathBytes(new java.io.File(source))
    // warm-up: one whole pass of the script the window plays, so its first
    // pass runs as warm as the next
    val rows = Script.tables.map(t => t -> db(t).len).toMap
    calls = Script.calls(seed, rows)
    seq = Script.sequence(calls)
    seq.foreach(_.run(db))
    db.cache.clear()
  }

  private var calls: Seq[Call] = Nil
  private var seq: Seq[Call] = Nil
  private val first = mutable.Map.empty[Int, Any]

  /** Whole passes, at least `MinPasses`, until one ends past the deadline.
    * A traced run traces every second pass.
    */
  def measure(res: RunResult, deadline: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadline || pass < Workload.minPasses(rec.traceRun)) {
      rec.tracing = rec.traceRun && pass % 2 == 1
      db.cache.clear()
      val seen = mutable.Set.empty[Int]
      seq.foreach { c =>
        val repeat = !seen.add(c.id)
        val tags = Map[String, Any]("call" -> c.id, "repeat" -> repeat,
          "cacheable" -> c.cacheable, "pass" -> pass, "unit" -> true)
        res.attempted += 1
        try {
          val a = rec.op("api.call", c.kind, tags)(c.answer(db))
          first.get(c.id) match {
            case None => first(c.id) = a
            case Some(b) => if (!Canon.same(a, b)) res.fail(s"call ${c.id} ${c.kind} ${c.desc}: repeat answer differs")
          }
        } catch { case scala.util.control.NonFatal(e) => res.fail(s"call ${c.id} ${c.kind}: $e") }
        // each cache lookup of the call builds and analyzes its plan, then
        // keys it: timed together, so describe's seven lookups are one sample
        if (rec.tracing && c.cacheable)
          rec.span("api.keyof", Map("call" -> c.id, "kind" -> c.kind))(
            c.plans(db).foreach(db.cache.keyOf))
      }
      if (rec.tracing) res.cacheSamples += ((db.cache.size, db.cache.currentSizeMb))
      pass += 1
    }
    rec.tracing = false
    res.passes = pass
  }

  def verify(res: RunResult): Unit = {
    val ref = Database.open(spark, parquetDir)
    calls.filter(c => first.contains(c.id)).foreach { c =>
      res.checked += 1
      val b = try c.answer(ref) catch { case scala.util.control.NonFatal(e) => e.toString }
      if (!Canon.same(first(c.id), b)) res.fail(s"call ${c.id} ${c.kind} ${c.desc}: sqlite and parquet differ")
    }
  }
}
