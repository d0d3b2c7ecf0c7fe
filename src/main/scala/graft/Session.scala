package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder every tool and the test suites share:
  * the graft Catalyst extensions, `local[cpus]` with as many shuffle
  * partitions, UTC session time, no UI, WARN logging.
  */
object Session {

  /** Local slot count: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The slot count the test suites and docs/PLANS.md's ledger run at,
    * so partition-dependent plans and results read the same on any host.
    */
  val PinnedCpus = 4

  /** Builds (or returns the running) session. `conf` is applied after
    * the defaults, so it may override any of them (e.g. `spark.master`).
    */
  def apply(appName: String, cpus: Int = Session.cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with `conf` set on the session, then restores every
    * touched key to its previous value (or unsets it).
    */
  def withScopedConf[T](spark: SparkSession, conf: Map[String, String])(
      body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Lenient-but-fail-fast boolean env parsing: 1/true/yes/on and
    * 0/false/no/off (case-insensitive); anything else aborts at startup
    * with the offending name, instead of per-query plan-time errors.
    */
  def parseBool(v: String, name: String): Boolean =
    v.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "1" | "true" | "yes" | "on" => true
      case "0" | "false" | "no" | "off" => false
      case other =>
        throw new IllegalArgumentException(
          s"$name must be a boolean (1/true/yes/on or 0/false/no/off), got: '$other'")
    }
}
