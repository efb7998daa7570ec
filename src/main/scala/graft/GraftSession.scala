package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: the mains (`Bench`,
  * `Verify`, `ExplainAudit`, `ReplicaGen`, `cli.Main`) and the test
  * suite all run under the same configuration, so a plan audited,
  * verified or benched is the plan the others run.
  *
  *  - UTC session time zone: gate queries and the DuckDB oracle agree on
  *    wall-clock arithmetic only in UTC.
  *  - `nanosAsLong`: `events.ts` has been parquet TIMESTAMP(NANOS),
  *    which Spark 4 reads only with this set AT BUILD TIME (see
  *    [[Tables.read]]).
  *  - AQE on, broadcast threshold 64 MB: the ~15 MB n-gram prefix
  *    self-join sits at the default 10 MB AQE broadcast edge and flaps
  *    between broadcast and sort-merge plans (measured 2.6 s vs 10 s run
  *    to run).
  *  - UI off.
  *  - [[GraftExtensions]]: the `graft_*` SQL functions and table
  *    functions, the as-of join strategy and the top-k window rewrite.
  *
  * Master and shuffle width are the caller's: `local[SPARK_GRAFT_CPUS]`
  * for the mains ([[forMain]]), the CLI's `master`/`shuffle_partitions`
  * keys, `local[4]` for the tests.
  */
object GraftSession {
  val BroadcastThreshold: Long = 64L * 1024 * 1024

  def apply(appName: String, master: String,
      shufflePartitions: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()

  /** A main's session: `SPARK_GRAFT_CPUS` (default 4) worker threads and
    * as many shuffle partitions. */
  def forMain(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    apply(appName, s"local[$cpus]", cpus)
  }
}
