package graft.api

import java.nio.file.Files

import org.apache.spark.sql.functions.{col => fcol}

import graft.SparkSuite

/** Second API spec batch: ingestion, views, iteration, zip arithmetic,
  * cache warm-up, expression OR.
  */
class Api2Spec extends SparkSuite {

  lazy val db: Database = Database.open(spark, sfDir)

  /** A fresh temp dir for one test, deleted when the test ends. */
  private def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally graft.ops.Layout.deleteRecursively(dir)
  }

  test("CSV ingestion (reference convert_csvs_to_db, utils.py:214-239)") {
    withTempDir("graftcsv") { dir =>
      Files.write(java.nio.file.Paths.get(dir, "people.csv"),
        "id,name,score\n1,ann,9.5\n2,bob,7.25\n3,cy,\n".getBytes)
      val cdb = Database.open(spark, dir)
      assert(cdb.tables == Seq("people"))
      val t = cdb("people")
      assert(t.len == 3)
      assert(t.col("score").nullCount == 1)
      assert(t.col("score").sum == 16.75)
      cdb.exit()
    }
  }

  test("CSV header/table-name sanitization (reference utils.py:233-238: ' '/'-' -> '_', lowercase)") {
    withTempDir("graftcsvnorm") { dir =>
      Files.write(java.nio.file.Paths.get(dir, "First Survey-2024.csv"),
        "First Name,Last-Name,Total Score\nann,lee,9.5\nbob,ray,7.0\n".getBytes)
      val cdb = Database.open(spark, dir)
      assert(cdb.tables == Seq("First_Survey_2024")) // stem: separators only, case kept
      val t = cdb("First_Survey_2024")
      assert(t.columns == Seq("first_name", "last_name", "total_score"))
      assert(t.col("total_score").sum == 16.5)
      // the sanitized names are SQL-addressable through the registered view
      assert(cdb.query(
        "SELECT first_name FROM First_Survey_2024 ORDER BY total_score DESC")
        .head.getString(0) == "ann")
      cdb.exit()
    }
  }

  test("FileTypeError on directory without tables") {
    withTempDir("graftempty") { dir =>
      intercept[FileTypeError](Database.open(spark, dir))
    }
  }

  test("views: createView registers, exit drops base views") {
    val vdb = Database.open(spark, sfDir)
    vdb.createView("big_orders",
      vdb("orders").filter(vdb("orders")("o_totalprice") > 1000.0))
    assert(vdb.views.contains("big_orders"))
    assert(vdb.query("SELECT count(*) AS c FROM big_orders").head.getLong(0) > 0)
    spark.catalog.dropTempView("big_orders")
  }

  test("views are PER-DATABASE: raw-SQL CREATE VIEW adopted, foreign views invisible") {
    val vdb = Database.open(spark, sfDir)
    // CREATE VIEW through db.query is adopted (the reference's connection
    // owns views made through it)
    vdb.query("CREATE OR REPLACE TEMP VIEW q_made AS SELECT 1 AS one")
    assert(vdb.views.contains("q_made"))
    assert(vdb.getColumns("q_made") === Seq("one"))
    // a temp view registered OUTSIDE this database (another suite, another
    // Database on the shared session) must not leak into its listing
    spark.range(1).createOrReplaceTempView("foreign_view_xyz")
    assert(!vdb.views.contains("foreign_view_xyz"))
    // name scanner: head-anchored (no phantom view from a body literal),
    // backtick unquoting, qualifier stripping
    assert(Database.createdViewName(
      "  create temporary view if not exists `weird``name` as select 1")
      .contains("weird`name"))
    assert(Database.createdViewName("SELECT 'CREATE VIEW fake AS x'").isEmpty)
    assert(Database.createdViewName("CREATE VIEW a.b AS SELECT 1").contains("b"))
    // leading comments must not hide the CREATE from adoption
    assert(Database.createdViewName(
      "-- nightly refresh\n  /* v2 */ CREATE TEMP VIEW cv AS SELECT 1")
      .contains("cv"))
    // …and end-to-end: a comment-headed CREATE through db.query is
    // adopted and dropped on exit like any other
    vdb.query("-- header\nCREATE OR REPLACE TEMP VIEW cv2 AS SELECT 2 AS two")
    assert(vdb.views.contains("cv2"))
    // backtick-QUALIFIED names keep the last component, unquoted
    assert(Database.createdViewName(
      "CREATE VIEW `sch ema`.`v iew` AS SELECT 1").contains("v iew"))
    // global temp views adopt under their real catalog home
    assert(Database.createdViewName(
      "CREATE GLOBAL TEMP VIEW gv AS SELECT 1").contains("global_temp.gv"))
    // an unterminated block comment can't be a CREATE head
    assert(Database.createdViewName("/* oops CREATE VIEW x AS 1").isEmpty)
    // bracketed comments NEST in Spark SQL — the scanner must track depth
    assert(Database.createdViewName(
      "/* outer /* inner */ still comment */ CREATE TEMP VIEW nv AS SELECT 1")
      .contains("nv"))
    assert(Database.createdViewName("/* a /* b */ never closed").isEmpty)
    spark.catalog.dropTempView("foreign_view_xyz")
    vdb.exit()
    assert(!spark.catalog.tableExists("q_made"))
    Database.open(spark, sfDir)
  }

  test("temp tables vs views: distinct listings, exit drops both (connection.py:122-148)") {
    val vdb = Database.open(spark, sfDir)
    vdb.createView("v_nation", vdb("nation"))
    vdb.createTempTable("tt_region", vdb("region"))
    assert(vdb.views.contains("v_nation") && !vdb.views.contains("tt_region"))
    assert(vdb.tempTables == Seq("tt_region"))
    // the temp table is queryable and materialized (persisted storage level)
    assert(vdb.query("SELECT count(*) AS c FROM tt_region").head.getLong(0) == 5)
    assert(spark.table("tt_region").storageLevel.useMemory)
    vdb.exit()
    assert(!spark.catalog.tableExists("tt_region") && !spark.catalog.tableExists("v_nation"))
    // reopen for other tests (exit dropped the base views)
    Database.open(spark, sfDir)
  }

  test("cacheReady flips once every table's stats are warmed (cache.py:62-68)") {
    val vdb = Database.open(spark, sfDir)
    assert(!vdb.cacheReady)
    vdb.populateCache()
    assert(vdb.cacheReady)
  }

  test("iterator streams rows without collect (reference table.py:355-360)") {
    val it = db("region").iterator
    assert(it.take(3).size == 3)
    val cit = db("region").col("r_name").iterator
    assert(cit.toSeq.size == 5)
  }

  test("expression OR and negation compose") {
    val c = db("customer")
    val either = c.filter(
      (c("c_mktsegment") === "BUILDING") || (c("c_mktsegment") === "AUTOMOBILE"))
    val neither = c.filter(
      !((c("c_mktsegment") === "BUILDING") || (c("c_mktsegment") === "AUTOMOBILE")))
    assert(either.len + neither.len == c.len)
  }

  test("zipWith: cross-table strict-length zip (SURVEY §7.4.4)") {
    val a = db("nation")
    val b = db("nation")
    val summed = a.col("n_nationkey").zipWith(b.col("n_regionkey"), _ + _)
      .collect().map(_.getInt(0)).sorted
    val expect = a.toDf.select(fcol("n_nationkey") + fcol("n_regionkey"))
      .collect().map(_.getInt(0)).sorted
    assert(summed.toSeq == expect.toSeq)
    intercept[IndexOutOfBoundsError](
      db("nation").col("n_nationkey").zipWith(db("region").col("r_regionkey"), _ + _))
  }

  test("populateCache warms scalar stats for every column (cache.py:94-125)") {
    withTempDir("graftwarm") { dir =>
      import spark.implicits._
      Seq((1L, "a", 2.0), (2L, "b", 3.5)).toDF("id", "s", "v")
        .write.parquet(s"$dir/t.parquet")
      val wdb = Database.open(spark, dir, populateCache = true)
      val before = wdb.cache.size
      assert(before > 0)
      // a warmed aggregate is a cache hit: size does not grow
      wdb("t").col("v").sum
      wdb("t").col("s").valueCounts
      assert(wdb.cache.size == before)
      wdb.exit()
    }
  }

  test("dynamic attribute access: db.dyn.orders.o_totalprice (SURVEY §7.4.6)") {
    val avg1 = db.dyn.orders.o_totalprice.avg
    val avg2 = db("orders").col("o_totalprice").avg
    assert(avg1 == avg2)
    intercept[InvalidTableError](db.dyn.nope)
    intercept[InvalidColumnError](db.dyn.orders.nope)
  }

  test("groupBy API: keyed aggregation with type guards") {
    val t = db("lineitem")
    val out = t.groupBy(Seq("l_returnflag"))
      .agg("l_quantity" -> "sum", "l_quantity" -> "avg", "l_orderkey" -> "count_distinct")
    assert(out.columns == Seq("l_returnflag", "sum_l_quantity", "avg_l_quantity",
      "count_distinct_l_orderkey"))
    val direct = t.toDf.groupBy("l_returnflag").count().count()
    assert(out.len == direct)
    intercept[ColumnTypeError](t.groupBy(Seq("l_returnflag")).agg("l_linestatus" -> "sum"))
    intercept[InvalidColumnError](t.groupBy(Seq("nope")))
  }

  test("cross-table column arithmetic zips positionally (not by name resolution)") {
    val a = db("nation")
    val b = db("nation") // distinct Table instances over the same data
    val summed = (a.col("n_nationkey") + b.col("n_regionkey"))
      .collect().map(_.getInt(0)).sorted
    val expect = a.toDf
      .selectExpr("n_nationkey + n_regionkey").collect().map(_.getInt(0)).sorted
    assert(summed.toSeq == expect.toSeq)
  }

  test("data(limit) returns head-n in base order") {
    val li = db("lineitem")
    val viaData = li.data(7).map(_.toSeq)
    val viaLimit = li.limit(7).toDf.collect().map(_.toSeq).toSeq
    assert(viaData == viaLimit)
    val colData = li.col("l_orderkey").data(7)
    assert(colData == viaLimit.map(_.head))
  }

  test("winnowing fingerprints: shared long substring => shared fingerprint") {
    import graft.functions.TextExprs.winnowFingerprints
    import spark.implicits._
    val common = "the catalyst optimizer rewrites logical plans"
    val df = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"other beginning $common different end"),
      (3L, "entirely unrelated content with no overlap at all here")
    ).toDF("id", "text")
    val fps = df.select(fcol("id"), winnowFingerprints(fcol("text"), 5, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)   // winnowing guarantee
    assert(fps(1L) != fps(3L))
    // deterministic
    val again = df.select(winnowFingerprints(fcol("text"), 5, 4)).collect()
      .map(_.getSeq[Long](0).toSet)
    assert(again(0) == fps(1L))
  }

  test("md5-mode winnowing: guarantee holds; 60-bit gram hash matches the hex-prefix definition") {
    import graft.functions.TextExprs.winnowFingerprints
    import spark.implicits._
    val common = "the catalyst optimizer rewrites logical plans"
    val df = Seq(
      (1L, s"prefix one $common suffix alpha"),
      (2L, s"other beginning $common different end")
    ).toDF("id", "text")
    val fps = df.select(fcol("id"),
        winnowFingerprints(fcol("text"), 5, 4, md5Mode = true).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert(fps.values.forall(_.forall(_ >= 0L)), "60-bit values are non-negative")

    // independent definition: first 15 hex chars of md5(gram), parsed base-16
    // (what DuckDB's ('0x'||substr(md5(g),1,15))::BIGINT computes)
    def hex60(gram: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(gram.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val text = "abcdefgh" // k=5, w=4 → nh=4 <= w → single global-min fingerprint
    val expect = (0 to 3).map(i => hex60(text.substring(i, i + 5))).min
    val got = Seq((1L, text)).toDF("id", "text")
      .select(winnowFingerprints(fcol("text"), 5, 4, md5Mode = true))
      .head.getSeq[Long](0)
    assert(got == Seq(expect))
  }

  test("cross-session persisted cache: open -> warm -> exit -> reopen -> hit without recompute") {
    withTempDir("graftcache") { tmp =>
      val cdir = tmp + "/spill"
      val db1 = Database.open(spark, sfDir, cacheDir = cdir)
      val c1 = db1("orders").col("o_totalprice")
      val (n, s, m) = (c1.count, c1.sum, c1.median)
      val warm = db1.cache.size
      assert(warm >= 3)
      db1.exit() // spills the memo to cdir
      // fresh Database + fresh QueryCache over the same cacheDir: the spill
      // reloads in full (caps unchanged, so nothing is dropped)
      val db2 = Database.open(spark, sfDir, cacheDir = cdir)
      assert(db2.cache.size == warm)
      // the same aggregates re-derive the SAME canonical plan keys: pure
      // hits — if any key failed to match, the recompute would insert a new
      // entry and grow the cache
      val c2 = db2("orders").col("o_totalprice")
      assert(c2.count == n && c2.sum == s && c2.median == m)
      assert(db2.cache.size == warm, "reopened cache answered without recompute")
      // caps survive the round-trip: a tiny-cap reopen loads nothing big
      val db3 = Database.open(spark, sfDir, maxItemMb = 1e-9, cacheDir = cdir)
      assert(db3.cache.size == 0)
      // and a session whose cache is EMPTY must not clobber the warm spill
      // on exit — the durable cache survives cache-off/tight-cap sessions
      db3.exit()
      val db4 = Database.open(spark, sfDir, cacheDir = cdir)
      assert(db4.cache.size == warm, "empty-cache exit preserved the spill")
      db4.exit()
      db2.exit()
    }
  }

  test("binary sqlite: a corrupt .db fails loudly, never a silent stub") {
    // the .db path runs graft's pure-JVM reader (SqliteFileSpec covers
    // real files); garbage bytes must raise the reference's FileTypeError,
    // not return empty tables
    withTempDir("graftdb") { tmp =>
      val f = java.nio.file.Paths.get(tmp, "forestation.db")
      Files.write(f, Array[Byte](1, 2, 3))
      val e = intercept[FileTypeError] { Database.open(spark, f.toString) }
      assert(e.getMessage.contains("truncated") || e.getMessage.contains("magic"))
    }
  }

  test("stale spill is discarded: fingerprint mismatch loads 0 entries") {
    import spark.implicits._
    withTempDir("graftstale") { tmp =>
      val cdir = tmp + "/spill"
      val qc = new QueryCache()
      qc.getOrElseUpdate("some plan key")(42L)
      qc.saveTo(spark, cdir, Some("fp-when-written"))
      // same fingerprint → loads; changed sources (different fp) → discarded
      val fresh1 = new QueryCache()
      assert(fresh1.loadFrom(spark, cdir, Some("fp-when-written")) == 1)
      val fresh2 = new QueryCache()
      assert(fresh2.loadFrom(spark, cdir, Some("fp-after-data-changed")) == 0)
      assert(fresh2.size == 0)
      // an UNSTAMPED spill is stale-by-default when a fingerprint is expected
      Seq(("k", Array[Byte](1, 2, 3))).toDF("key", "value")
        .write.mode("overwrite").parquet(cdir)
      val fresh3 = new QueryCache()
      assert(fresh3.loadFrom(spark, cdir, Some("any")) == 0)
    }
  }

  test("hostile spill: corrupt bytes and disallowed classes load 0 entries without throwing") {
    import spark.implicits._
    withTempDir("grafthostile") { tmp =>
      val cdir = tmp + "/spill"
      // entry 1: garbage bytes (not a serialization stream)
      val garbage = ("k1", Array.fill[Byte](64)(0x7f))
      // entry 2: a well-formed stream of a class OUTSIDE the allow-list —
      // stands in for a deserialization-gadget payload; the ObjectInputFilter
      // must reject it before readObject resolves it
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(new java.io.File("/etc/passwd"))
      oos.close()
      val gadget = ("k2", bos.toByteArray)
      // entry 3: a legitimate boxed scalar — must still load
      val bos2 = new java.io.ByteArrayOutputStream()
      val oos2 = new java.io.ObjectOutputStream(bos2)
      oos2.writeObject(java.lang.Long.valueOf(7L))
      oos2.close()
      val ok = ("k3", bos2.toByteArray)
      Seq(garbage, gadget, ok).toDF("key", "value").write.mode("overwrite").parquet(cdir)
      val qc = new QueryCache()
      assert(qc.loadFrom(spark, cdir) == 1, "only the allow-listed scalar loads")
      assert(!qc.contains("k1") && !qc.contains("k2") && qc.contains("k3"))
      assert(qc.getOrElseUpdate[Any]("k3")(fail("must be a hit")) == 7L)
    }
  }

  test("cache keys name their source: same-schema tables never share a stat") {
    withTempDir("graftkeys") { dir =>
      import spark.implicits._
      Seq(1L, 2L, 3L).toDF("v").write.parquet(s"$dir/a.parquet")
      Seq(10L, 20L).toDF("v").write.parquet(s"$dir/b.parquet")
      val kdb = Database.open(spark, dir)
      assert(kdb("a")("v").sum == 6.0)
      assert(kdb("b")("v").sum == 30.0, "b's sum must not be a's cached sum")
      assert(kdb.cache.keyOf(kdb("a").toDf) != kdb.cache.keyOf(kdb("b").toDf))
      // local relations key on their rows
      val (x, y) = (Seq(1L).toDF("v"), Seq(2L).toDF("v"))
      assert(kdb.cache.keyOf(x) != kdb.cache.keyOf(y))
      assert(kdb.cache.keyOf(x) == kdb.cache.keyOf(Seq(1L).toDF("v")))
      kdb.exit()
      // a .sql dump's tables are RDD-backed: two with the same column
      // types must not share a stat either
      val sdb = Database.open(spark, getClass.getResource("/forestation_subset.sql").getPath)
      val (fa, la) = (sdb("forest_area"), sdb("land_area"))
      for ((t, c) <- Seq(fa -> "forest_area_sqkm", la -> "total_area_sq_mi"))
        assert(t(c).sum == t.toDf.agg(Aggs.sumAgg(fcol(c))).head.getDouble(0), c)
      sdb.exit()
    }
  }

  test("LRU eviction: filling past maxTotalMb evicts oldest, hot keys survive") {
    // ~0.008 MB per Array[Long](1000) value; cap the store at ~5 of them
    val qc = new QueryCache(enabled = true, maxItemMb = 1.0, maxTotalMb = 0.05)
    (1 to 5).foreach(i => qc.getOrElseUpdate(s"k$i")(Array.fill(1000)(i.toLong)))
    assert((1 to 5).forall(i => qc.contains(s"k$i")))
    // touch k1 so it is the hottest entry, then overflow the cap
    qc.getOrElseUpdate[Array[Long]]("k1")(fail("must be a hit"))
    (6 to 8).foreach(i => qc.getOrElseUpdate(s"k$i")(Array.fill(1000)(i.toLong)))
    assert(qc.contains("k1"), "recently-used entry survives eviction")
    assert(qc.contains("k7") && qc.contains("k8"), "new entries inserted")
    assert(!qc.contains("k2") && !qc.contains("k3"), "cold entries evicted oldest-first")
    assert(qc.currentSizeMb <= 0.05 + 1e-9, "byte budget holds after eviction")
    // reference per-item refusal is unchanged: an oversized item is returned
    // but never stored, and evicts nothing
    val before = qc.size
    qc.getOrElseUpdate("huge")(Array.fill(1000000)(1L))
    assert(!qc.contains("huge") && qc.size == before)
  }
}
