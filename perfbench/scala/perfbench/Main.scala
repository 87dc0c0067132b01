package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload: set-up (timed, not part of the measured window), the
  * measured window, then an untimed correctness pass.
  */
trait Workload {
  def setUp(res: RunResult, seed: Long): Unit
  def measure(res: RunResult, deadline: Long): Unit
  def verify(res: RunResult): Unit
}

object Workload {
  /** Set-up is repeated this many times and reported as the median. */
  val SetupReps = 3
  /** The window holds at least this many whole passes, whose median the
    * end-to-end metrics report.
    */
  val MinPasses = 2

  /** A traced run traces every second pass and needs an untraced pass on
    * each side of a traced one, as later passes run warmer.
    */
  def minPasses(trace: Boolean): Int = if (trace) 3 else MinPasses

  def pathBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(pathBytes).sum).getOrElse(0L)
}

/** Everything one run measured, written as one JSON record. */
final class RunResult {
  var attempted = 0L
  var checked = 0L
  val failures = ArrayBuffer.empty[String]
  def fail(why: String): Unit = failures += why

  var sessionS = 0.0
  var warmS = 0.0
  val setupOpenS = ArrayBuffer.empty[Double]
  val sourceOpenMs = ArrayBuffer.empty[Double]
  val sourceScanMs = ArrayBuffer.empty[Double]
  var sourceBytes = 0L
  var windowS = 0.0
  var passes = 0
  var retainedHeapMb = 0.0
  val cacheSamples = ArrayBuffer.empty[(Int, Double)]
  /** Workload-specific measurements, by name. */
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}

object Main {
  private def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 " +
      "--data DIR --work DIR --out FILE --fingerprints FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    Seq("workload", "seed", "seconds", "trace", "data", "work", "out", "fingerprints")
      .foreach(k => if (!opt.contains(k)) usage())
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new RunResult
    res.sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(spark, trace)
    val data = opt("data")
    val wl: Workload = opt("workload") match {
      case "sqlite_session" => new Session(spark, rec, s"$data/session.db", data)
      case "batch_queries" => new BatchQueries(spark, rec, data, opt("fingerprints"))
      case "store_ingest" => new StoreIngest(spark, rec, data, opt("work"))
      case other =>
        System.err.println(s"unknown workload '$other'")
        spark.stop()
        sys.exit(2)
    }

    var fatal: Option[Throwable] = None
    try {
      val w0 = System.nanoTime()
      rec.tracing = trace
      rec.span("setup")(wl.setUp(res, seed))
      rec.tracing = false
      res.warmS = (System.nanoTime() - w0) / 1e9 - res.setupOpenS.sum
      val t0 = System.nanoTime()
      wl.measure(res, t0 + (opt("seconds").toDouble * 1e9).toLong)
      res.windowS = (System.nanoTime() - t0) / 1e9
      rec.drain()
      wl.verify(res)
      res.retainedHeapMb = retainedHeapMb()
      // the workload's state stays reachable until the heap has been read
      java.lang.ref.Reference.reachabilityFence(wl)
    } catch { case e: Throwable => fatal = Some(e) }

    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val record = Map(
      "workload" -> opt("workload"), "seed" -> seed, "trace" -> trace,
      "fatal" -> fatal.map(e => e.toString + e.getStackTrace.take(8).mkString(" at ", " at ", "")),
      "attempted" -> res.attempted, "checked" -> res.checked,
      "failures" -> res.failures.take(50), "failed" -> res.failures.size,
      "session_s" -> res.sessionS, "warm_s" -> res.warmS,
      "setup_open_s" -> res.setupOpenS, "source_open_ms" -> res.sourceOpenMs,
      "source_scan_ms" -> res.sourceScanMs, "source_bytes" -> res.sourceBytes,
      "window_s" -> res.windowS, "passes" -> res.passes,
      "retained_heap_mb" -> res.retainedHeapMb,
      "jvm_gc_ms" -> gcs.map(_.getCollectionTime).sum, "jvm_heap_peak_mb" -> peak,
      "cache_samples" -> res.cacheSamples.map { case (n, mb) => Seq(n, mb) },
      "extra" -> res.extra,
      "ops" -> rec.opRecords, "spans" -> rec.spanRecords,
      "jobs" -> rec.jobRecords, "phases" -> rec.phaseRecords)
    // the record is written only once the session has stopped, so nothing
    // Spark prints while shutting down can follow or interleave with it
    spark.stop()
    val tmp = new java.io.File(opt("out") + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, Json(record))
    tmp.renameTo(new java.io.File(opt("out")))
    sys.exit(if (fatal.isEmpty) 0 else 1)
  }

  /** Heap in use after full collections, in MB: the least of several, as
    * Spark's ContextCleaner frees broadcast and shuffle state only after a
    * collection has found their handles unreachable.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
