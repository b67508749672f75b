package graft.app

import org.apache.spark.sql.SparkSession

/** Runs one CLI command of [[Main]] on an existing session and returns
  * what it printed, so the benchmark drives the CLI path itself
  * (`Main.main` would build and stop a session of its own). */
object BenchCli {
  def run(spark: SparkSession, args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, args.toArray)
    }
    out.toString("UTF-8")
  }
}
