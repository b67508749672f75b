package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), built by
  * [[Session]] so specs run the config the CLI and the oracle ship. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build(cores = 4)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
