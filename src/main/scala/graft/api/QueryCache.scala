package graft.api

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.util.SizeEstimator

/** Driver-side memo for scalar/small aggregate results, mirroring the
  * reference's size-capped result cache (reference: pandasdb/cache.py:11-92;
  * defaults 2 MB per item / 100 MB total, connection.py:23-24).
  *
  * The reference keys on the generated SQL string; the Spark-native
  * equivalent is the *canonicalized analyzed plan*, so two differently-written
  * but semantically identical queries share an entry
  * (SURVEY.md §7.4 "cache keying").
  *
  * Where the reference simply REFUSES inserts once full (cache.py:87-91),
  * this cache evicts least-recently-used entries to make room — a long-lived
  * session engine keeps its hot stats warm instead of freezing the first
  * 100 MB it ever computed. Per-item caps still refuse outright (one huge
  * value must not flush the whole working set).
  *
  * Scale note: this memoizes only final, already-collected scalar results on
  * the driver — it never holds distributed data, so its footprint is bounded
  * by `maxTotalMb` regardless of input size (the reference's headline claim:
  * a handle stays O(KB) on an 18M-row table, README.md:63-89).
  */
final class QueryCache(
    val enabled: Boolean = true,
    val maxItemMb: Double = 2.0,
    val maxTotalMb: Double = 100.0) {
  import QueryCache.Entry

  // access-order LinkedHashMap (same shape as Table.indexedMemo): get/put
  // bump recency, eviction pops the eldest. All access goes through the
  // map's own mutex — driver-side scalar memo, contention is negligible.
  private val store = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true))
  // running byte total of stored (key, value) pairs — sized once at insert,
  // not re-estimated by walking the whole store per insert (that walk made
  // aggregate insertion cost O(n²))
  private val storedBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Canonical cache key for a DataFrame's logical plan: the canonicalized
    * plan, then the source identity of every leaf ([[QueryCache.sourceOf]]).
    * The canonical string alone names no source — `sum(v)` over two
    * same-schema parquet tables printed the same key.
    */
  def keyOf(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    (plan.canonicalized.toString +: plan.collectWithSubqueries {
      case leaf: LeafNode => QueryCache.sourceOf(leaf)
    }.flatten).mkString("\n")
  }

  private def mbOf(v: Any): Double = SizeEstimator.estimate(v.asInstanceOf[AnyRef]) / 1e6

  def currentSizeMb: Double = storedBytes.get() / 1e6

  def size: Int = store.size()
  // containsKey does NOT bump access order — a probe is not a use
  def contains(key: String): Boolean = store.containsKey(key)
  def clear(): Unit = store.synchronized { store.clear(); storedBytes.set(0L) }

  /** Insert under the caps: refuse only when the single item exceeds
    * `maxItemMb` (or could never fit at all); otherwise evict LRU entries
    * until the new item fits `maxTotalMb`. Runs under the store mutex.
    */
  private def put(key: String, v: Any): Boolean = {
    val itemBytes = (mbOf(key) + mbOf(v)) * 1e6
    if (itemBytes > maxItemMb * 1e6 || itemBytes > maxTotalMb * 1e6) return false
    store.synchronized {
      if (store.containsKey(key)) return false
      val it = store.entrySet().iterator()
      while (storedBytes.get() + itemBytes > maxTotalMb * 1e6 && it.hasNext) {
        val eldest = it.next()
        storedBytes.addAndGet(-eldest.getValue.bytes)
        it.remove()
      }
      store.put(key, Entry(v, itemBytes.toLong))
      storedBytes.addAndGet(itemBytes.toLong)
      true
    }
  }

  /** Memoize `compute` under `key` (reference: cache.py:87-91, upgraded
    * from refuse-when-full to LRU eviction).
    */
  def getOrElseUpdate[T](key: String)(compute: => T): T = {
    if (!enabled) return compute
    val hit = store.get(key) // bumps recency
    if (hit != null) return hit.value.asInstanceOf[T]
    val v: T = compute
    if (v != null) put(key, v)
    v
  }

  /** Memoize an aggregate computed from `df`, keyed on its canonical plan. */
  def memo[T](df: DataFrame)(compute: => T): T = getOrElseUpdate(keyOf(df))(compute)

  // ---- cross-session durability ----------------------------------------
  // The reference's cache dies with the connection (cache.py:39-92); Spark
  // makes a durable upgrade natural: spill the driver-side memo to one tiny
  // parquet of (plan-key, java-serialized value) rows and reload it on the
  // next Database.open. Canonicalized plan strings normalize expression ids,
  // so the same query over the same source paths re-derives the same key in
  // a fresh session (asserted in Api2Spec). Values are small driver scalars
  // (Long/Double/Row/Map) bounded by maxItemMb — the file stays O(MB).
  //
  // Two hazards a durable cache has that the reference's never did, both
  // closed here:
  //  * STALENESS — plan keys are path-based, so if the data at the path
  //    changes between sessions the old spill would silently serve stale
  //    stats. saveTo stamps the spill with a caller-supplied fingerprint of
  //    the source files (path+mtime+size digest, see
  //    Database.sourceFingerprint); loadFrom discards the whole spill when
  //    the fingerprint doesn't match the current sources.
  //  * DESERIALIZATION GADGETS — a tampered/attacker-writable cacheDir must
  //    not become a code-execution vector at Database.open. loadFrom reads
  //    through an ObjectInputFilter that allow-lists only the scalar /
  //    collection / Row types the cache actually stores and rejects
  //    everything else (rejected or corrupt entries load as nothing).

  /** Reserved spill row carrying the source fingerprint (plan keys are
    * multi-line plan trees and can never equal it).
    */
  private val FingerprintKey = "__graft_source_fingerprint__"

  /** JEP-290 filter for spill deserialization: only the value shapes the
    * memo stores (boxed scalars, strings, decimals, dates, Scala
    * collections/tuples, Spark Row/schema) plus depth/length bounds.
    * Everything else — and any nested object smuggled inside an allowed
    * container — is rejected, turning a gadget chain into a skipped entry.
    */
  private val spillFilter = java.io.ObjectInputFilter.Config.createFilter(
    "maxdepth=50;maxarray=1000000;" +
      "java.lang.*;java.math.*;java.sql.Date;java.sql.Timestamp;java.time.*;" +
      "java.util.**;scala.**;org.apache.spark.sql.**;!*")

  private def serialize(v: Any): Option[Array[Byte]] =
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(v)
      oos.close()
      Some(bos.toByteArray)
    } catch { case _: java.io.NotSerializableException => None }

  private def deserialize(b: Array[Byte]): Any =
    try {
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b))
      ois.setObjectInputFilter(spillFilter)
      val x = ois.readObject()
      ois.close()
      x
    } catch { case NonFatal(_) => null }

  /** Spill the memo to `dir` (overwrites), stamped with `fingerprint` when
    * given. Non-serializable values are skipped — they just recompute next
    * session.
    */
  def saveTo(spark: org.apache.spark.sql.SparkSession, dir: String,
      fingerprint: Option[String] = None): Unit = {
    import spark.implicits._
    val entries = store.synchronized {
      store.entrySet().asScala.map(e => (e.getKey, e.getValue.value)).toVector
    }
    val rows = entries.flatMap { case (k, v) => serialize(v).map(b => (k, b)) } ++
      fingerprint.map(fp => (FingerprintKey, fp.getBytes("UTF-8")))
    // driver-sized by the caps (<= maxTotalMb): one file, no shuffle
    rows.toDF("key", "value").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a [[saveTo]] spill, re-applying the size caps (a spill written
    * under looser caps cannot overfill a tighter cache). Missing/unreadable
    * dirs are a no-op — a cold start, not an error — and so is a spill whose
    * stamped fingerprint doesn't match `expectFingerprint` (the source data
    * changed since the spill was written: stale stats must not be served).
    * When `expectFingerprint` is given, an UNSTAMPED spill is also
    * discarded — absence of provenance is treated as staleness, not trust.
    * Returns entries loaded.
    */
  def loadFrom(spark: org.apache.spark.sql.SparkSession, dir: String,
      expectFingerprint: Option[String] = None): Int = {
    if (!enabled) return 0
    val rows =
      try spark.read.parquet(dir).collect()
      catch { case NonFatal(_) => return 0 }
    val byKey = rows.flatMap { r =>
      try Some((r.getAs[String]("key"), r.getAs[Array[Byte]]("value")))
      catch { case NonFatal(_) => None }
    }
    expectFingerprint.foreach { want =>
      val stamped = byKey.collectFirst {
        case (FingerprintKey, b) => new String(b, "UTF-8")
      }
      if (!stamped.contains(want)) return 0
    }
    var n = 0
    byKey.foreach { case (key, bytes) =>
      if (key != FingerprintKey) {
        val v = deserialize(bytes)
        if (v != null && put(key, v)) n += 1
      }
    }
    n
  }
}

object QueryCache {
  /** What a leaf reads, where its printed plan does not say: the root paths
    * of a file relation, a content hash of a local relation (both stable
    * across sessions, as spilled keys must be), the id of an RDD-backed
    * relation (session-local: such keys never match after a reload). V2
    * relations print their table's name, so they need nothing added.
    */
  private def sourceOf(leaf: LogicalPlan): Option[String] = leaf match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some(fs.location.rootPaths.mkString("files ", ",", ""))
    case l: LocalRelation =>
      Some(s"local ${l.data.length} ${scala.util.hashing.MurmurHash3.seqHash(l.data)}")
    case r: LogicalRDD => Some(s"rdd ${r.rdd.id}")
    case _ => None
  }

  // top-level so the pattern-match type test needs no outer-instance check
  private[api] final case class Entry(value: Any, bytes: Long)
}
