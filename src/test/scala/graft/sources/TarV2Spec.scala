package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The graft-tar DataSourceV2 connector against a driver-side decode of
  * the same shards: identical content, shard pruning reaching
  * planInputPartitions, payload skipping under column pruning, per-entry
  * name screens, and the write path's commit protocol.
  */
class TarV2Spec extends SparkSuite {
  import spark.implicits._

  /** `body` gets a dir of four shards holding 40 entries, deleted after. */
  private def withShards[T](body: String => T): T =
    withTempDir("graft_tarv2_") { dir =>
      (0 until 40).map { i =>
        (s"shard-${i % 4}.tar", f"doc$i%03d.${if (i % 2 == 0) "txt" else "json"}",
          null.asInstanceOf[java.lang.Long], s"payload-$i-${"x" * i}".getBytes("UTF-8"))
      }.toDF("shard_file", "name", "size", "payload")
        .write.format("graft-tar").mode("overwrite").save(dir)
      body(dir)
    }

  /** Every entry of every shard under `dir` as (shard_file, name, payload),
    * decoded on the driver by the codec's sequential [[Tar.readEntries]].
    */
  private def walkShards(dir: String): Seq[(String, String, Seq[Byte])] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f))
        try Tar.readEntries(in, f.getPath)
          .map { case (n, p) => (f.getName, n, p.toSeq) }.toVector
        finally in.close()
      }

  test("v2 read equals a driver-side readEntries walk row-for-row") {
    withShards { dir =>
      val v2 = spark.read.format("graft-tar").load(dir)
        .select("shard_file", "name", "payload")
        .as[(String, String, Array[Byte])].collect()
        .map { case (f, n, p) => (f, n, p.toSeq) }.sortBy(r => (r._1, r._2)).toSeq
      val walked = walkShards(dir)
      assert(walked.size == 40)
      assert(v2 == walked)
    }
  }

  test("size column matches payload length without reading payloads") {
    withShards { dir =>
      val meta = spark.read.format("graft-tar").load(dir)
        .select("name", "size").as[(String, Long)].collect().sorted.toSeq
      val expected = walkShards(dir).map(e => (e._2, e._3.length.toLong)).sorted
      assert(meta == expected)
    }
  }

  test("shard_file equality prunes input partitions to one file") {
    withShards { dir =>
      val df = spark.read.format("graft-tar").load(dir)
        .filter(col("shard_file") === "shard-2.tar")
      // partition pruning is structural: the scan plans ONE partition
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 10)
      val all = spark.read.format("graft-tar").load(dir)
      assert(all.rdd.getNumPartitions == 4)
    }
  }

  test("shard_file IN and prefix filters prune too") {
    withShards { dir =>
      val in2 = spark.read.format("graft-tar").load(dir)
        .filter(col("shard_file").isin("shard-0.tar", "shard-3.tar"))
      assert(in2.rdd.getNumPartitions == 2)
      val pre = spark.read.format("graft-tar").load(dir)
        .filter(col("shard_file").startsWith("shard-1"))
      assert(pre.rdd.getNumPartitions == 1)
    }
  }

  test("name filters screen entries and stay exact") {
    withShards { dir =>
      val txt = spark.read.format("graft-tar").load(dir)
        .filter(col("name").endsWith(".txt"))
      assert(txt.count() == 20)
      val one = spark.read.format("graft-tar").load(dir)
        .filter(col("name") === "doc007.json")
        .select(decode(col("payload"), "UTF-8").as("t"))
        .as[String].collect().toSeq
      assert(one == Seq("payload-7-" + "x" * 7))
    }
  }

  test("pushed filters are visible in the explain output") {
    withShards { dir =>
      val df = spark.read.format("graft-tar").load(dir)
        .filter(col("shard_file") === "shard-2.tar" && col("name").endsWith(".txt"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"))
      assert(plan.contains("shard_file"))
    }
  }

  test("estimateStatistics reports shard bytes so small tars broadcast") {
    withShards { dir =>
      val stats = spark.read.format("graft-tar").load(dir)
        .queryExecution.optimizedPlan.stats
      val onDisk = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".tar")).map(_.length()).sum
      assert(stats.sizeInBytes == BigInt(onDisk))
    }
  }

  test("user-supplied schema is rejected loud") {
    withShards { dir =>
      val e = intercept[Exception] {
        spark.read.format("graft-tar")
          .schema("a INT, b STRING").load(dir).collect()
      }
      assert(e.getMessage.contains("fixed schema") ||
        e.getMessage.toLowerCase.contains("schema"))
    }
  }

  test("missing path fails loud") {
    withShards { dir =>
      val e = intercept[Exception] {
        spark.read.format("graft-tar").load(dir + "/nonexistent").collect()
      }
      assert(e.getMessage.contains("no .tar shards") ||
        e.getMessage.toLowerCase.contains("path"))
    }
  }

  test("runtime filtering: a selective join opens only the probed shards") {
    withShards { dir =>
      import graft.sources.tarv2.TarMetrics
      // a FILE-BACKED dimension with a selective predicate (what the DPP
      // planner rule requires of the build side — a local relation would
      // constant-fold the filter away): its surviving key set reaches
      // TarScan.filter(...) at runtime; only that file opens.
      withTempDir("graft_tardim_") { dimPath =>
        (0 until 4).map(i => (s"shard-$i.tar", i)).toDF("sf", "tag")
          .write.mode("overwrite").parquet(dimPath)
        val dim = spark.read.parquet(dimPath).filter(col("tag") === 2)
        val tar = spark.read.format("graft-tar").load(dir)
        val joined = tar.join(dim, tar("shard_file") === dim("sf"))
        assert(joined.queryExecution.executedPlan.toString.contains("RuntimeFilters:"))
        val before = TarMetrics.openedShards.get()
        assert(joined.count() == 10)
        val opened = TarMetrics.openedShards.get() - before
        assert(opened == 1, s"expected runtime pruning to open 1 shard, opened $opened")
      }
    }
  }

  // ---- v2 WRITE path ----

  private def writeInput(n: Int) =
    (0 until n).map { i =>
      (s"shard-${i % 3}.tar", f"e$i%03d.txt", null.asInstanceOf[java.lang.Long],
        s"pay-$i".getBytes("UTF-8"))
    }.toDF("shard_file", "name", "size", "payload")

  test("v2 write + read round-trips; tar CLI-compatible bytes") {
    withTempDir("graft_tarv2w_") { d =>
      writeInput(30).write.format("graft-tar").mode("overwrite").save(d)
      val names = new java.io.File(d).listFiles().map(_.getName).filter(_.endsWith(".tar")).sorted
      assert(names.toSeq == Seq("shard-0.tar", "shard-1.tar", "shard-2.tar"))
      val back = spark.read.format("graft-tar").load(d)
        .select(col("shard_file"), col("name"), decode(col("payload"), "UTF-8").as("t"))
        .as[(String, String, String)].collect().toSet
      assert(back == (0 until 30).map(i =>
        (s"shard-${i % 3}.tar", f"e$i%03d.txt", s"pay-$i")).toSet)
      // the codec's sequential decoder parses the v2-written archive too
      assert(walkShards(d).size == 30)
      // no staging residue
      assert(!new java.io.File(d, ".__v2staging__").exists())
    }
  }

  test("overwrite replaces stale shards; append collision fails loud") {
    withTempDir("graft_tarv2w2_") { d =>
      writeInput(30).write.format("graft-tar").mode("overwrite").save(d)
      // overwrite with a smaller export: the stale shard-2 must disappear
      writeInput(30).filter(col("shard_file") =!= "shard-2.tar")
        .write.format("graft-tar").mode("overwrite").save(d)
      assert(new java.io.File(d).listFiles().map(_.getName).filter(_.endsWith(".tar")).sorted
        .toSeq == Seq("shard-0.tar", "shard-1.tar"))
      // append of a colliding shard fails and leaves the export untouched
      val before = spark.read.format("graft-tar").load(d).count()
      val e = intercept[Exception] {
        writeInput(6).write.format("graft-tar").mode("append").save(d)
      }
      assert(findCause(e, "append would overwrite existing shard"))
      assert(spark.read.format("graft-tar").load(d).count() == before)
      // appending a NEW shard succeeds
      writeInput(30).filter(col("shard_file") === "shard-2.tar")
        .write.format("graft-tar").mode("append").save(d)
      assert(spark.read.format("graft-tar").load(d).count() == 30)
    }
  }

  test("size mismatch and duplicate entry names fail loud") {
    withTempDir("graft_tarv2w3_") { d =>
      val bad = Seq(("shard-0.tar", "a.txt", 99L, "abc".getBytes("UTF-8")))
        .toDF("shard_file", "name", "size", "payload")
      assert(findCause(intercept[Exception] {
        bad.write.format("graft-tar").mode("overwrite").save(d)
      }, "size 99 != payload length 3"))
      val dup = Seq(
        ("shard-0.tar", "a.txt", null.asInstanceOf[java.lang.Long], "x".getBytes("UTF-8")),
        ("shard-0.tar", "a.txt", null.asInstanceOf[java.lang.Long], "y".getBytes("UTF-8")))
        .toDF("shard_file", "name", "size", "payload")
      assert(findCause(intercept[Exception] {
        dup.write.format("graft-tar").mode("overwrite").save(d)
      }, "strictly increasing"))
      // failed jobs leave no staging residue behind a later successful write
      writeInput(3).write.format("graft-tar").mode("overwrite").save(d)
      assert(!new java.io.File(d, ".__v2staging__").exists())
    }
  }

  test("marker roll-forward: a reader completes a crashed commit, never sees a partial set") {
    import java.io.File
    withTempDir("graft_tarv2c_") { p =>
      val d = new File(p)
      def entryTar(name: String, payload: Array[Byte]): Array[Byte] =
        Tar.entryBytes(name, payload) ++ new Array[Byte](1024)
      // old export: A.tar + B.tar
      Files.write(new File(d, "A.tar").toPath, entryTar("a.txt", "old-a".getBytes("UTF-8")))
      Files.write(new File(d, "B.tar").toPath, entryTar("b.txt", "old-b".getBytes("UTF-8")))
      // crashed truncate-commit of a new export {A' (replaces A), C}:
      // C.tar was already renamed in, A' is still staged, B's delete and
      // the staging cleanup never ran — the marker holds the full plan
      val sub = new File(d, ".__v2staging__/task-0-7"); assert(sub.mkdirs())
      Files.write(new File(sub, "A.tar").toPath, entryTar("a2.txt", "new-a".getBytes("UTF-8")))
      Files.write(new File(d, "C.tar").toPath, entryTar("c.txt", "new-c".getBytes("UTF-8")))
      Files.write(new File(d, ".__commit__").toPath,
        "del\tB.tar\nnew\ttask-0-7\tA.tar\nnew\ttask-0-7\tC.tar".getBytes("UTF-8"))
      val rows = spark.read.format("graft-tar").load(d.getAbsolutePath)
        .select(col("shard_file"), col("name"), decode(col("payload"), "UTF-8").as("t"))
        .as[(String, String, String)].collect().toSet
      assert(rows == Set(("A.tar", "a2.txt", "new-a"), ("C.tar", "c.txt", "new-c")))
      assert(!new File(d, ".__commit__").exists())
      assert(!new File(d, ".__v2staging__").exists())
    }
  }

  test("twin attempts of one partition stage apart; the loser's abort spares the winner") {
    import java.io.File
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.tarv2.{TarBatchWrite, TarDataWriter, TarWriteCommit}
    withTempDir("graft_tarv2s_") { p =>
      val d = new File(p)
      val staging = new File(d, ".__v2staging__"); assert(staging.mkdirs())
      def row(shard: String, name: String, payload: String) =
        new GenericInternalRow(Array[Any](UTF8String.fromString(shard),
          UTF8String.fromString(name), null, payload.getBytes("UTF-8")))
      // speculative twins of partition 0 (distinct taskIds) interleave
      val w0 = new TarDataWriter(staging.getAbsolutePath, 0, 7L)
      val w1 = new TarDataWriter(staging.getAbsolutePath, 0, 8L)
      w0.write(row("s.tar", "a.txt", "attempt0"))
      w1.write(row("s.tar", "a.txt", "attempt1"))
      w0.write(row("s.tar", "b.txt", "attempt0-b"))
      w1.write(row("s.tar", "b.txt", "attempt1-b"))
      val winner = w1.commit()
      w0.abort() // must delete ONLY attempt 0's bytes
      assert(!new File(staging, "task-0-7").exists())
      new TarBatchWrite(d.getAbsolutePath, true)
        .commit(Array(winner.asInstanceOf[TarWriteCommit]))
      val back = spark.read.format("graft-tar").load(d.getAbsolutePath)
        .select(col("name"), decode(col("payload"), "UTF-8").as("t"))
        .as[(String, String)].collect().toSet
      assert(back == Set(("a.txt", "attempt1"), ("b.txt", "attempt1-b")))
    }
  }

  private def findCause(e: Throwable, needle: String): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.getMessage != null && t.getMessage.contains(needle)) return true
      t = t.getCause
    }
    false
  }
}
