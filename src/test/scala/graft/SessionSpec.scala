package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.tools.Profile

/** The one session builder and the profiler built on it. */
class SessionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val query = "j1_parent_child_counts"

  private def profile(args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, args.toArray))
    out.toString("UTF-8")
  }

  test("Session: UTC, nanosAsLong, partitions = cores, graft SQL functions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sql(
      "SELECT highlight_context('find the needle here', 'NEEDLE', 4)")
      .head.getString(0) == "the **needle** her")
  }

  test("Profile stages: a TIMING line, then the query's JOB and STAGE lines") {
    val lines = profile("stages", sf, query).linesIterator.toSeq
    assert(lines.head.matches(s"TIMING $query \\d+\\.\\d\\d s"), lines.head)
    assert(lines.exists(_.startsWith("JOB ")), lines.mkString("\n"))
    assert(lines.exists(_.startsWith("STAGE ")), lines.mkString("\n"))
  }

  test("Profile plan: the runtime-final adaptive plan") {
    val out = profile("plan", sf, query)
    assert(out.contains(s"======== $query (final adaptive plan)"))
    assert(out.contains("isFinalPlan=true"), out)
  }

  test("Profile refuses an unknown mode or query name") {
    intercept[IllegalArgumentException](profile("stages", sf, "no_such_query"))
    intercept[IllegalArgumentException](profile("explain", sf, query))
  }

  test("source guard: graft.Session is the only SparkSession.builder in src/main") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq
    assert(builders == Seq("graft/Session.scala"))
  }
}
