package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry

/** `batch_queries`: a fixed list of `SparkEntry.queries`, each written to the
  * noop sink, in a seed-shuffled order per pass. The first of two warm-up
  * passes checks each query's output against its recorded fingerprint.
  */
final class BatchQueries(spark: SparkSession, rec: Recorder, dir: String,
    fingerprints: String) extends Workload {
  import BatchQueries._

  def setUp(res: RunResult, seed: Long): Unit = {
    for (_ <- 1 to Workload.SetupReps) {
      val t0 = System.nanoTime()
      val dfs = rec.span("sources.open")(inputs.map(t => spark.read.parquet(s"$dir/$t.parquet")))
      val t1 = System.nanoTime()
      rec.span("sources.first_scan")(dfs.foreach(_.count()))
      val t2 = System.nanoTime()
      res.setupOpenS += (t2 - t0) / 1e9
      res.sourceOpenMs += (t1 - t0) / 1e6
      res.sourceScanMs += (t2 - t1) / 1e6
    }
    res.sourceBytes = inputs.map(t => Workload.pathBytes(new java.io.File(s"$dir/$t.parquet"))).sum
    val expected = readFingerprints(fingerprints)
    names.foreach { n =>
      val (rows, hash) = fingerprint(SparkEntry.queries(n)(spark, dir))
      res.checked += 1
      if (!expected.get(n).contains((rows, hash)))
        res.fail(s"$n: output fingerprint '$n $rows $hash', recorded ${expected.get(n)}")
    }
    order = new Random(seed)
    // a second warm-up pass: the first one after the fingerprints still runs
    // 15-20 % slower than the next
    order.shuffle(names).foreach(run)
  }

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  private var order: Random = _

  /** Whole passes, at least `MinPasses`, until one ends past the deadline.
    * A traced run traces every second pass.
    */
  def measure(res: RunResult, deadline: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadline || pass < Workload.minPasses(rec.traceRun)) {
      rec.tracing = rec.traceRun && pass % 2 == 1
      order.shuffle(names).foreach { n =>
        res.attempted += 1
        try rec.op(s"query.$n", "query", Map("pass" -> pass, "unit" -> true)) {
          run(n)
        } catch { case scala.util.control.NonFatal(e) => res.fail(s"$n: $e") }
      }
      pass += 1
    }
    rec.tracing = false
    res.passes = pass
  }

  def verify(res: RunResult): Unit = ()
}

object BatchQueries {
  val names = Seq("q_tpch_q1", "q_tpch_q5", "q_groupby_agg", "q_dedup_minhash",
    "q_pagerank", "q_median", "q_mode", "q_value_counts", "q_iloc_slice")
  private val inputs = Seq("lineitem", "orders", "customer", "supplier", "nation",
    "region", "documents", "events")

  /** Row count and an order-insensitive hash of every row. Floating-point
    * columns are hashed at 9 significant digits, so a change that only adds
    * partial sums in another order keeps the fingerprint.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => F.format_string("%.9g", F.col(f.name))
        case _ => F.col(f.name)
      }
    }
    val r = df.select(F.xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** `name rows hash` lines; a failed check prints the line to put here. */
  def readFingerprints(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(n, c, h) = l.split(" ")
      n -> (c.toLong, h)
    }.toMap
  }
}
