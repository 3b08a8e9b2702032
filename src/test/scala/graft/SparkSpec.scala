package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The run's own warehouse, deleted when the JVM exits: the stores the
    * specs publish for their throwaway datasets do not outlive the run.
    * Named `spark-warehouse` like the default, which plan dumps
    * normalize.
    */
  private lazy val warehouse: java.io.File = {
    val dir = new java.io.File(java.nio.file.Files.createTempDirectory("graft-test").toFile, "spark-warehouse")
    sys.addShutdownHook(deleteTree(dir.getParentFile))
    dir
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      // Spark's default codegen cache (100 entries, 4 LRU segments of
      // 25) can hold a stream's steady working set (~60 entries: each
      // whole-stage class is cached once per class loader) or thrash,
      // depending on per-JVM hashing; a larger cache keeps
      // AnomalyPipelineSpec's compile count a test of the generated code
      .config("spark.sql.codegen.cache.maxEntries", "512")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
