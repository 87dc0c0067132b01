package perfbench

import scala.util.Random

import org.apache.spark.sql.{SparkSession, functions => F}

import graft.api.Database
import graft.ops.Layout

/** `store_ingest`: seeded slices of `events` appended to a partitioned store
  * with `Layout.append`, each commit followed by a read through `graft.api`
  * (`Database.open`, `len`, a stat filtered to the new slice), and a
  * `Layout.compactPartitions` after the last commit of each pass. Every pass
  * starts from the same store, restored from a snapshot taken at set-up, so
  * every pass does the same work however many fit in the window.
  */
final class StoreIngest(spark: SparkSession, rec: Recorder, dir: String, work: String)
    extends Workload {
  import StoreIngest._

  private val events = spark.read.parquet(s"$dir/events.parquet")
  private var base: String = _
  private var store: String = _
  private var snapshot: String = _
  private var snapshotRows = 0L
  private var snapshotCommits = 0
  private var chunks: IndexedSeq[Int] = _
  private var nChunks = 0
  // exact per-chunk row counts and value sums in cents, for the read-backs
  private var chunkRows: Map[Int, Long] = _
  private var chunkCents: Map[Int, Long] = _
  private var committedRows = 0L
  private var commits = 0
  // per traced commit, read and compaction
  private val commitFiles, commitWriteBytes, commitRows, readFiles, compacted =
    scala.collection.mutable.ArrayBuffer.empty[Long]

  private def slice(c: Int, round: Int) = events
    .filter(F.col("event_id") >= c.toLong * ChunkRows && F.col("event_id") < (c + 1L) * ChunkRows)
    .withColumn("event_id", F.col("event_id") + round * RoundOffset)

  def setUp(res: RunResult, seed: Long): Unit = {
    val per = events.groupBy((F.col("event_id") / ChunkRows).cast("int").as("c"))
      .agg(F.count(F.lit(1)), F.sum(F.round(F.col("value") * 100).cast("long")))
      .collect()
    chunkRows = per.map(r => r.getInt(0) -> r.getLong(1)).toMap
    chunkCents = per.map(r => r.getInt(0) -> r.getLong(2)).toMap
    nChunks = chunkRows.size
    chunks = new Random(seed).shuffle((0 until nChunks).toIndexedSeq)
    // a fresh store with its first commit, opened and scanned once: repeated,
    // the last one is kept
    for (r <- 1 to Workload.SetupReps) {
      base = s"$work/store-$r"
      store = s"$base/events_store"
      deleteTree(new java.io.File(base))
      committedRows = 0L
      commits = 0
      val t0 = System.nanoTime()
      commit(res, measured = false)
      val t1 = System.nanoTime()
      val db = rec.span("api.open")(Database.open(spark, base))
      val t2 = System.nanoTime()
      rec.span("sources.first_scan")(db("events_store").toDf.count())
      val t3 = System.nanoTime()
      res.setupOpenS += (t3 - t0) / 1e9
      res.sourceOpenMs += (t2 - t1) / 1e6
      res.sourceScanMs += (t3 - t2) / 1e6
    }
    res.sourceBytes = dataBytes(new java.io.File(store))
    snapshot = s"$work/snapshot"
    copyTree(new java.io.File(base), new java.io.File(snapshot))
    snapshotRows = committedRows
    snapshotCommits = commits
    // warm-up: commits and read-backs still speed up after the first pass
    for (_ <- 1 to 2) {
      restore()
      for (i <- 0 until CompactEvery) cycle(res, measured = false, compact = i == CompactEvery - 1)
    }
  }

  /** Puts the store back as set-up left it. */
  private def restore(): Unit = {
    deleteTree(new java.io.File(base))
    copyTree(new java.io.File(snapshot), new java.io.File(base))
    commits = snapshotCommits
    committedRows = snapshotRows
  }

  /** Passes, at least this workload's `MinPasses`, until one ends past the
    * deadline. A pass restores the store (untimed), then runs `CompactEvery`
    * cycles. A cycle is a commit and its read-back, the last one of a pass
    * also a compaction, timed as one unit. A traced run traces every second
    * pass.
    */
  def measure(res: RunResult, deadline: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadline || pass < MinPasses) {
      restore()
      rec.tracing = rec.traceRun && pass % 2 == 1
      for (i <- 0 until CompactEvery)
        rec.op("store.cycle", "cycle", Map("unit" -> true, "pass" -> pass))(
          cycle(res, measured = true, compact = i == CompactEvery - 1))
      pass += 1
    }
    rec.tracing = false
    res.passes = pass
    res.extra("commits") = pass * CompactEvery
    res.extra("rows_committed") = committedRows
    res.extra("store_bytes") = dataBytes(new java.io.File(store))
    res.extra("live_files") = dataFiles(new java.io.File(store))
    res.extra("compact_bytes_rewritten") = compacted.toSeq
    res.extra("commit_files") = commitFiles.toSeq
    res.extra("commit_write_bytes") = commitWriteBytes.toSeq
    res.extra("commit_rows") = commitRows.toSeq
    res.extra("read_files") = readFiles.toSeq
  }

  private def commit(res: RunResult, measured: Boolean): Int = {
    val c = chunks(commits % nChunks)
    val round = commits / nChunks
    val df = slice(c, round)
    val traced = measured && rec.tracing
    val filesBefore = if (traced) dataFiles(new java.io.File(store)) else 0
    val ioBefore = if (traced) writeBytes() else 0L
    def run(): Unit = Layout.append(df, store, "event_type", Seq("ts"))
    if (measured) {
      res.attempted += 1
      rec.op("store.commit", "commit", Map("chunk" -> c))(run())
    } else run()
    if (traced) {
      commitFiles += dataFiles(new java.io.File(store)) - filesBefore
      commitWriteBytes += writeBytes() - ioBefore
      commitRows += chunkRows(c)
    }
    commits += 1
    committedRows += chunkRows(c)
    c
  }

  private def cycle(res: RunResult, measured: Boolean, compact: Boolean): Unit = {
    val c = try commit(res, measured) catch {
      case scala.util.control.NonFatal(e) => res.fail(s"commit: $e"); return
    }
    val round = (commits - 1) / nChunks
    val lo = c.toLong * ChunkRows + round * RoundOffset
    def read[T](kind: String)(body: => T): T =
      if (measured) { res.attempted += 1; rec.op("api.call", kind)(body) } else body
    try rec.span("store.read") {
      val db = read("open")(Database.open(spark, base))
      val t = db("events_store")
      val n = read("len")(t.len)
      val sel = t.filter(t("event_id") >= lo && t("event_id") < lo + ChunkRows)
      val s = read("filtered_sum")(sel("value").sum)
      if (measured && rec.tracing) readFiles += sel.toDf.inputFiles.length
      if (n != committedRows) res.fail(s"len $n after commit, expected $committedRows")
      if (math.round(s * 100) != chunkCents(c)) res.fail(s"sum of chunk $c: $s, expected ${chunkCents(c) / 100.0}")
    } catch { case scala.util.control.NonFatal(e) => res.fail(s"read: $e") }
    if (compact) {
      def run() = Layout.compactPartitions(spark, store, Seq("ts"))
      try {
        val dirs = if (measured) { res.attempted += 1; rec.op("store.compact", "compact")(run()) } else run()
        if (measured && rec.tracing) compacted += dirs.map(d => dataBytes(new java.io.File(s"$store/$d"))).sum
      } catch { case scala.util.control.NonFatal(e) => res.fail(s"compact: $e") }
    }
  }

  def verify(res: RunResult): Unit = {
    val n = spark.read.parquet(store).count()
    res.checked += 1
    if (n != committedRows) res.fail(s"store holds $n rows, committed $committedRows")
  }

}

object StoreIngest {
  val ChunkRows = 2000L
  val CompactEvery = 5
  /** Store passes are short and vary more than other workloads' (small
    * Spark jobs writing small files), so the window holds at least three,
    * whose median drops a slow one. Three also give a traced run an
    * untraced pass on each side of a traced one.
    */
  val MinPasses = 3
  private val RoundOffset = 1000000000L

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  private def isData(f: java.io.File) = f.getName.endsWith(".parquet")
  def dataFiles(f: java.io.File): Int = files(f).count(isData)
  def dataBytes(f: java.io.File): Long = files(f).filter(isData).map(_.length).sum

  /** Bytes this process has caused to be written to storage so far. */
  def writeBytes(): Long =
    try scala.io.Source.fromFile("/proc/self/io").getLines()
      .collectFirst { case l if l.startsWith("write_bytes:") => l.split(":")(1).trim.toLong }
      .getOrElse(0L)
    catch { case scala.util.control.NonFatal(_) => 0L }

  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach(f => copyTree(f, new java.io.File(to, f.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
