package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared session for all suites (one JVM-wide session; suites run in the
  * forked test JVM sequentially). */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"
  /** A scratch directory deleted with its contents at JVM exit. */
  def tmpDir(prefix: String): String =
    graft.core.TempDirs.create(prefix).toString
}
