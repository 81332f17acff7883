package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared single-JVM session fixture for all specs. sf0.001 keeps every
  * spec sub-second; correctness vs the DuckDB oracle is the driver's
  * sf0.01 gate — these specs cover invariants, edge cases, and the
  * non-SQL surfaces (ingest/streaming/multimodal) the oracle can't. */
trait GraftSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSpec.session

  /** A fresh directory under the system temp dir, deleted recursively
    * when the JVM exits: `File.deleteOnExit` cannot remove a directory
    * that Spark has filled. */
  def tempDir(tag: String): java.nio.file.Path =
    java.nio.file.Path.of(graft.etl.Scratch.tempDir(tag))

  override def afterAll(): Unit = () // session shared across suites
}

object GraftSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
