package graft

import org.apache.spark.sql.SparkSession

/** The one session config every entry point runs — the CLI
  * (`app.Main`), the oracle dump (`Verify`), the timing battery
  * (`Bench`), the profiler (`tools.Profile`) and the specs:
  *
  *  - session time zone UTC, so date/timestamp results do not depend
  *    on the host;
  *  - `parquet.nanosAsLong`, so the legacy int64-nanos fixtures read as
  *    the same instants (EventsEncodingSpec);
  *  - adaptive execution on;
  *  - `GraftExtensions`, so the native kernels resolve through
  *    `spark.sql` as well as through the Column API;
  *  - no UI, one shuffle partition per core, log level WARN.
  *
  * Extensions apply only when the session is built: `getOrCreate` on a
  * live session keeps that session's extensions.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the machine's cores. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cores]`, or on `master` when one is given (a
    * deployment's cluster URL); shuffle partitions = `cores` either way. */
  def build(cores: Int = Session.cores,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
