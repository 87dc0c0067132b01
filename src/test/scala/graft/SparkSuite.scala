package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession, one per suite (guide: one lazy session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` on a fresh temp dir, then deletes the dir and all in it. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally graft.ops.Layout.deleteRecursively(dir)
  }
}
