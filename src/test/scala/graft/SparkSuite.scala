package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local session per suite, configured like Verify/Bench. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.engine.GraftSession
    .builder("local[4]", 4)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  // every scratch directory a test makes through tmpDir, deleted in afterAll
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh `graft-<tag>*` directory in the system temp dir, removed with
    * everything under it when the suite ends. */
  protected def tmpDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
    tmpDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM (sbt forks once); don't stop
    try {
      if (!tmpDirs.isEmpty) {
        // a query still writing its checkpoint would recreate what is deleted
        spark.streams.active.foreach { q => q.stop(); q.awaitTermination() }
        tmpDirs.asScala.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      }
    } finally super.afterAll()
  }
}
