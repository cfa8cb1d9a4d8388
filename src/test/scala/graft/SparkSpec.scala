package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkEntry.builder(cpus = 4)
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
  override def beforeAll(): Unit = { spark.sparkContext.setLogLevel("WARN") }

  /** path → mtime of every generation file in a store, minus paths
    * containing any of `skip` — what a bounded rewrite must leave as is. */
  def genFileStamps(store: String, skip: String*): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.contains("gen-") && !skip.exists(p.toString.contains))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }
}
