package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** USTAR implementation correctness: golden header bytes against the
  * POSIX.1-1988 layout, payload padding at block boundaries, checksum
  * verification (corruption fails loud), deterministic shard bytes, and
  * the distributed write/read round trip through `graft-tar`. The data
  * path through real corpus text is under the hash gate (q_tar_roundtrip).
  */
class TarSpec extends SparkSuite {

  /** Writes `df`'s (shard, name, payload) rows as `dir/shard-<shard>.tar`
    * through graft-tar, replacing any previous export.
    */
  private def writeTar(df: DataFrame, dir: String): Unit =
    df.select(concat(lit("shard-"), col("shard"), lit(".tar")).as("shard_file"),
        col("name"), lit(null).cast("long").as("size"), col("payload"))
      .write.format("graft-tar").mode("overwrite").save(dir)

  private def readTar(dir: String): DataFrame =
    spark.read.format("graft-tar").load(dir)

  private def tarFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".tar")).sorted.toSeq

  test("golden header: field offsets, octal encodings, checksum per spec") {
    val e = Tar.entryBytes("doc.txt", "hello".getBytes("UTF-8"))
    // header + 512-padded payload
    assert(e.length === 512 + 512)
    assert(new String(e.take(7), "US-ASCII") === "doc.txt" && e(7) === 0)
    assert(new String(e, 100, 7, "US-ASCII") === "0000644") // mode
    assert(new String(e, 124, 11, "US-ASCII") === "00000000005") // size 5
    assert(e(156) === '0'.toByte) // typeflag regular
    assert(new String(e, 257, 5, "US-ASCII") === "ustar" && e(262) === 0)
    assert(new String(e, 263, 2, "US-ASCII") === "00")
    // checksum recomputes: spaces in the field, sum all header bytes
    val h = e.take(512).clone()
    val stored = java.lang.Long.parseLong(
      new String(h, 148, 6, "US-ASCII"), 8)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    assert(stored === h.foldLeft(0L)((a, b) => a + (b & 0xff)))
    assert(new String(e, 512, 5, "UTF-8") === "hello")
    assert(e.drop(517).forall(_ == 0)) // padding zeroed
  }

  test("padding edges: empty, 511, 512, 513-byte payloads round-trip") {
    for (n <- Seq(0, 1, 511, 512, 513, 1024)) {
      val payload = Array.tabulate(n)(i => (i % 251).toByte)
      val bytes = Tar.entryBytes(s"p$n.bin", payload) ++ new Array[Byte](1024)
      val got = Tar.readEntries(
        new java.io.ByteArrayInputStream(bytes), "test").toSeq
      assert(got.size === 1 && got.head._1 === s"p$n.bin")
      assert(got.head._2.sameElements(payload), s"payload $n mangled")
    }
  }

  test("corruption fails loud: checksum and truncation") {
    val bytes = Tar.entryBytes("x.txt", "data".getBytes) ++ new Array[Byte](1024)
    val flipped = bytes.clone(); flipped(0) = 'y'.toByte // name changed
    intercept[IllegalArgumentException] {
      Tar.readEntries(new java.io.ByteArrayInputStream(flipped), "t").toSeq
    }
    intercept[java.io.IOException] {
      Tar.readEntries(
        new java.io.ByteArrayInputStream(bytes.take(600)), "t").toSeq
    }
    // oversized / bad names refused at write time
    intercept[IllegalArgumentException] { Tar.entryBytes("a" * 101, Array.emptyByteArray) }
    intercept[IllegalArgumentException] { Tar.entryBytes("", Array.emptyByteArray) }
  }

  test("a FULL 100-byte name (no NUL terminator) round-trips exactly") {
    val name = "d/" + ("x" * 94) + ".txt" // 100 bytes
    assert(name.getBytes("UTF-8").length === 100)
    val bytes = Tar.entryBytes(name, "p".getBytes) ++ new Array[Byte](1024)
    val got = Tar.readEntries(
      new java.io.ByteArrayInputStream(bytes), "t").toSeq
    assert(got.head._1 === name,
      s"name overran into the mode field: '${got.head._1}'")
  }

  test("re-export OVERWRITES: stale shards from a wider split are removed") {
    withTempDir("tar_over_") { dir =>
      def df(mod: Int) = spark.range(32)
        .select(pmod(col("id"), lit(mod)).as("shard"),
          concat(col("id").cast("string"), lit(".txt")).as("name"),
          encode(col("id").cast("string"), "UTF-8").as("payload"))
      writeTar(df(8), dir)
      assert(tarFiles(dir).size === 8)
      writeTar(df(4), dir)
      // the four stale shard-4..7.tar files must be GONE, and the read
      // returns exactly the new corpus — no mixed stale samples
      assert(tarFiles(dir).size === 4)
      assert(readTar(dir).count() === 32)
    }
  }

  test("WebDataset samples: per-key txt+json entry PAIRS stay adjacent") {
    withTempDir("tar_pairs_") { dir =>
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
      // one sample = two entries sharing the key: <id>.txt (payload) and
      // <id>.json (metadata) — expressed as a plain union, no special API
      val txt = docs.select(lit(0L).as("shard"),
        concat(col("doc_id"), lit(".txt")).as("name"),
        encode(col("text"), "UTF-8").as("payload"))
      val meta = docs.select(lit(0L).as("shard"),
        concat(col("doc_id"), lit(".json")).as("name"),
        encode(to_json(struct(col("lang"), col("source"))), "UTF-8").as("payload"))
      writeTar(txt.unionByName(meta), dir)
      val names = readTar(dir).select("name")
        .collect().map(_.getString(0)).toVector
      // name-sorted writing puts <id>.json directly before <id>.txt —
      // the adjacency WebDataset loaders group samples by
      val keys = names.map(_.split("\\.")(0))
      assert(names.length === 40)
      keys.grouped(2).foreach(g => assert(g(0) === g(1),
        s"sample entries not adjacent: $g"))
    }
  }

  test("interop: GNU tar lists and extracts our shards byte-identically") {
    assume(new java.io.File("/usr/bin/tar").canExecute, "system tar absent")
    import spark.implicits._
    withTempDir("tar_interop_") { dir =>
      val df = Seq((0L, "a.txt", "alpha"), (0L, "b.bin", "beta\u0000bytes"))
        .toDF("shard", "name", "s")
        .select(col("shard"), col("name"), encode(col("s"), "UTF-8").as("payload"))
      writeTar(df, dir)
      val shard = new java.io.File(dir, "shard-0.tar")
      // list
      val list = new ProcessBuilder("tar", "-tf", shard.getAbsolutePath)
        .redirectErrorStream(true).start()
      val names = scala.io.Source.fromInputStream(list.getInputStream)
        .getLines().toVector
      assert(list.waitFor() === 0, s"tar -tf failed: $names")
      assert(names === Vector("a.txt", "b.bin"))
      // extract and compare payloads
      val ex = new ProcessBuilder("tar", "-xf", shard.getAbsolutePath, "-C", dir)
        .redirectErrorStream(true).start()
      assert(ex.waitFor() === 0)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "a.txt")), "UTF-8") === "alpha")
      assert(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "b.bin"))
        .sameElements("beta\u0000bytes".getBytes("UTF-8")))
    }
  }

  test("distributed shards: write → read round trip, deterministic bytes") {
    import spark.implicits._
    withTempDir("tar_spec_") { root =>
      val Seq(dir1, dir2, dupDir) = Seq("a", "b", "dup").map(n => s"$root/$n")
      val df = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(pmod(col("doc_id"), lit(4)).as("shard"),
          concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
          encode(col("text"), "UTF-8").as("payload"))
      writeTar(df, dir1)
      val files = tarFiles(dir1)
      assert(files === (0 until 4).map(i => s"shard-$i.tar"))
      val back = readTar(dir1)
      assert(back.count() === df.count())
      // payloads identical, matched by name
      val orig = df.select(col("name"), col("payload")).as[(String, Array[Byte])]
        .collect().toMap
      val got = back.select(col("name"), col("payload")).as[(String, Array[Byte])]
        .collect()
      assert(got.length === orig.size)
      assert(got.forall { case (n, p) => orig(n).sameElements(p) })
      // golden shard bytes: each shard is its entries in name order, then
      // the two zero blocks that end a tar archive
      val byShard = df.as[(Long, String, Array[Byte])].collect().groupBy(_._1)
      for ((shard, rows) <- byShard) {
        val expected = rows.sortBy(_._2).flatMap(r => Tar.entryBytes(r._2, r._3)) ++
          new Array[Byte](1024)
        val actual = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir1, s"shard-$shard.tar"))
        assert(java.util.Arrays.equals(actual, expected), s"shard-$shard.tar bytes")
      }
      // byte-determinism: a second write produces identical shard files
      writeTar(df, dir2)
      for (f <- files) {
        val a = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir1, f))
        val b = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir2, f))
        assert(java.util.Arrays.equals(a, b), s"$f not deterministic")
      }
      // duplicate names within a shard are refused — and the failure must
      // not leave a truncated in-progress shard (no end-of-archive blocks)
      // anywhere under the export dir
      intercept[org.apache.spark.SparkException] {
        writeTar(df.withColumn("name", lit("same.txt")), dupDir)
      }
      val leftover = java.nio.file.Files.walk(java.nio.file.Paths.get(dupDir))
        .toArray.map(_.toString).filter(_.endsWith(".tar"))
      assert(leftover.isEmpty,
        s"crashed export left truncated shards: ${leftover.toSeq}")
      // staging commit: a failed RE-export must leave the previous export
      // intact and readable — not a partial set of new shards (some tasks'
      // complete shards mixed with the old corpus)
      val before = readTar(dir1).count()
      intercept[org.apache.spark.SparkException] {
        writeTar(df.withColumn("name", lit("same.txt")), dir1)
      }
      assert(readTar(dir1).count() === before,
        "failed re-export must not disturb the committed shards")
      assert(tarFiles(dir1) === files)
      assert(!new java.io.File(dir1, ".__v2staging__").exists(),
        "failed export must clean its staging dir")
    }
  }
}
