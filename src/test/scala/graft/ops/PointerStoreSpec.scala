package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The manifest-pointer commit layer: versioned live-file pointers replace
  * directory renames, so the maintenance family runs where [[Fs.rename]]
  * refuses (object stores). Data equality of the read path is additionally
  * under the DuckDB hash gate (SinkOps q_pointer_roundtrip /
  * q_pointer_rewrite); this spec owns the PROTOCOL claims: versioning,
  * crash-mid-commit, crash-mid-stage, orphan retirement, and the
  * object-store-scheme end-to-end that the rename protocol cannot do.
  */
class PointerStoreSpec extends SparkSuite {

  /** `body` gets a store path inside a fresh temp dir, deleted after. */
  private def withStore[T](body: String => T): T =
    withTempDir("ptr_spec_")(d => body(new java.io.File(d, "store").getAbsolutePath))

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def assertSameData(dir: String,
      expected: org.apache.spark.sql.DataFrame): Unit = {
    val back = PointerStore.read(spark, dir)
    val exp = expected.select(back.columns.map(col): _*)
    assert(back.count() === exp.count())
    assert(back.exceptAll(exp).isEmpty && exp.exceptAll(back).isEmpty)
  }

  test("init adopts a partitioned store; read serves exactly the live set") {
    withStore { dir =>
      Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
      assert(PointerStore.init(dir) === 1L)
      assert(PointerStore.currentVersion(dir).contains(1L))
      assert(PointerStore.liveFiles(dir).forall(_.startsWith("lang=")))
      assertSameData(dir, docs)
      // init is once
      intercept[IllegalArgumentException](PointerStore.init(dir))
    }
  }

  test("append publishes new files with ONE commit write; old version intact") {
    withStore { dir =>
      val (a, b) = (docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      Layout.writePartitioned(a, dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      val v1Live = PointerStore.liveFiles(dir).toSet
      assert(PointerStore.append(b, dir, "lang", Seq("doc_id")) === 2L)
      assertSameData(dir, docs)
      // v1 still resolves to exactly its old set (pinned-reader guarantee)
      val v2Live = PointerStore.liveFiles(dir).toSet
      assert(v1Live.subsetOf(v2Live) && v2Live.size > v1Live.size)
    }
  }

  test("compact rewrites fragmented dirs, retires fragments only at vacuum") {
    withStore { dir =>
      val perFile = (docs.count() / 40L + 1L) max 16L
      Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"),
        maxRecordsPerFile = perFile)
      PointerStore.init(dir)
      val before = PointerStore.liveFiles(dir)
      assert(before.groupBy(_.split('/').head).values.exists(_.size > 1),
        "need a fragmented store for the compaction claim")
      val v = PointerStore.compact(spark, dir, Seq("doc_id"))
      assert(v === 2L)
      val after = PointerStore.liveFiles(dir)
      assert(after.groupBy(_.split('/').head).values.forall(_.size == 1),
        s"expected 1 live file per dir, got $after")
      assertSameData(dir, docs)
      // fragments are STILL ON DISK (old commit readable) until vacuum
      assert(before.forall(f => Fs.isFile(Fs.path(s"$dir/$f"))))
      val deleted = PointerStore.vacuumOrphans(dir, keepCommits = 1)
      assert(deleted.toSet === before.toSet -- after)
      assert(deleted.forall(f => !Fs.exists(Fs.path(s"$dir/$f"))))
      assertSameData(dir, docs)
      // compacting an already-compact store burns no commit
      assert(PointerStore.compact(spark, dir, Seq("doc_id")) === 2L)
    }
  }

  test("rewriteAll re-partitions the whole store with a pointer flip") {
    withStore { dir =>
      Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      val v = PointerStore.rewriteAll(spark, dir, "source", Seq("doc_id"))
      assert(v === 2L)
      assert(PointerStore.liveFiles(dir).forall(_.startsWith("source=")))
      assertSameData(dir, docs)
      // old lang= files retire at vacuum, and their now-empty dirs go too
      PointerStore.vacuumOrphans(dir, keepCommits = 1)
      val leftDirs = Fs.list(Fs.path(dir)).filter(_.isDirectory)
        .map(_.getPath.getName).filterNot(_.startsWith("_"))
      assert(leftDirs.forall(_.startsWith("source=")),
        s"lang= dirs must be gone after vacuum, got $leftDirs")
      assertSameData(dir, docs)
    }
  }

  test("readVersion time-travels within the vacuum retention window") {
    withStore { dir =>
      val evens = docs.filter(col("doc_id") % 2 === 0)
      Layout.writePartitioned(evens, dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      PointerStore.append(docs.filter(col("doc_id") % 2 =!= 0),
        dir, "lang", Seq("doc_id"))
      // v1 = evens, v2 = everything — both resolvable while retained
      assert(PointerStore.readVersion(spark, dir, 1L).count() === evens.count())
      assert(PointerStore.readVersion(spark, dir, 2L).count() === docs.count())
      val v1 = PointerStore.readVersion(spark, dir, 1L)
      assert(v1.exceptAll(evens.select(v1.columns.map(col): _*)).isEmpty)
      // past the window, the version is gone LOUDLY (not empty-silently)
      PointerStore.vacuumOrphans(dir, keepCommits = 1)
      intercept[IllegalArgumentException](
        PointerStore.readVersion(spark, dir, 1L))
      assert(PointerStore.readVersion(spark, dir, 2L).count() === docs.count())
    }
  }

  test("crash mid-commit: torn pointer is ignored, recovered, and retryable") {
    withStore { dir =>
      Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      // a torn v2: header + half a file list, NO trailer — the exact on-disk
      // state of a crash (or a reader racing a slow non-atomic PUT)
      val torn = Fs.path(s"$dir/_commits/v00000002.commit")
      Fs.writeUTF8(torn, "#graft-pointer v1\nlang=en/bogus.parquet")
      // readers serve v1 — no repair step needed first
      assert(PointerStore.currentVersion(dir).contains(1L))
      assertSameData(dir, docs)
      // recover reaps the fragment
      PointerStore.recover(dir)
      assert(!Fs.exists(torn))
      // and a fresh torn fragment does NOT deadlock the next commit either
      Fs.writeUTF8(torn, "#graft-pointer v1\nlang=en/bogus.parquet")
      val v = PointerStore.append(docs.limit(5), dir, "lang", Seq("doc_id"))
      assert(v === 2L && PointerStore.currentVersion(dir).contains(2L))
    }
  }

  test("crash mid-stage: moved-but-uncommitted files stay invisible, vacuum reaps") {
    withStore { dir =>
      Layout.writePartitioned(docs, dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      val n0 = PointerStore.read(spark, dir).count()
      // simulate: a new data file fully moved into a partition dir + a stage
      // leftover, with NO commit naming them (crash between move and publish)
      val live = PointerStore.liveFiles(dir)
      val src = Fs.path(s"$dir/${live.head}")
      val orphan = Fs.path(s"$dir/lang=en/part-orphan-uncommitted.parquet")
      Fs.writeBytes(orphan, Fs.readBytes(src))
      Fs.mkdirs(Fs.path(s"$dir/_stage_v2append/lang=en"))
      // invisible to the read path (plain spark.read.parquet(dir) would
      // double-count — exactly why the pointer is the read path)
      assert(PointerStore.read(spark, dir).count() === n0)
      val deleted = PointerStore.vacuumOrphans(dir)
      assert(deleted.contains("lang=en/part-orphan-uncommitted.parquet"))
      assert(!Fs.exists(orphan))
      assert(Fs.list(Fs.path(dir)).forall(
        st => !st.getPath.getName.startsWith("_stage_")))
      assert(PointerStore.read(spark, dir).count() === n0)
    }
  }

  test("vacuum keeps every file any RETAINED commit references") {
    withStore { dir =>
      Layout.writePartitioned(docs.filter(col("doc_id") % 2 === 0),
        dir, "lang", Seq("doc_id"))
      PointerStore.init(dir)
      PointerStore.append(docs.filter(col("doc_id") % 2 =!= 0),
        dir, "lang", Seq("doc_id"))
      PointerStore.compact(spark, dir, Seq("doc_id")) // v3 drops v2's files
      val v2Files = docs // every pre-compact file is referenced by v2
      // keepCommits=2 retains v2+v3: NOTHING may be deleted (v2 still needs
      // the fragments) except stage dirs
      assert(PointerStore.vacuumOrphans(dir, keepCommits = 2).isEmpty)
      // keepCommits=1 retires the fragments and the old commit files
      assert(PointerStore.vacuumOrphans(dir, keepCommits = 1).nonEmpty)
      assert(Fs.list(Fs.path(s"$dir/_commits")).size === 1)
      assertSameData(dir, v2Files)
    }
  }

  test("object-store scheme: rename maintenance refuses, pointer commits run") {
    // fs.s3.impl -> a RawLocalFileSystem that ANSWERS as scheme 's3': every
    // byte lands on local disk, but path URIs carry the scheme that
    // Fs.rename's atomicity guard refuses — so this exercises the real
    // dispatch: Layout's swap protocol must refuse, PointerStore's
    // rename-free protocol must complete end-to-end on the same store.
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3.impl", classOf[graft.ops.MockS3FileSystem].getName)
    hc.set("fs.s3.impl.disable.cache", "true")
    withStore { local =>
      val dir = s"s3:$local"
      Layout.writePartitioned(docs, local, "lang", Seq("doc_id"))
      // the rename-based family refuses this scheme (r13/r14 stance — loud,
      // not wrong-but-silent)
      val e = intercept[IllegalStateException](
        Layout.compact(spark, dir, "lang", Seq("doc_id")))
      assert(e.getMessage.contains("refusing rename-based maintenance"))
      // the pointer protocol runs the SAME maintenance there
      PointerStore.init(dir)
      assert(PointerStore.append(docs.limit(7), dir, "lang", Seq("doc_id")) === 2L)
      PointerStore.compact(spark, dir, Seq("doc_id"))
      PointerStore.vacuumOrphans(dir, keepCommits = 1)
      val back = PointerStore.read(spark, dir)
      assert(back.count() === docs.count() + 7)
    }
  }
}
