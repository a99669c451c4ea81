package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder: every main and the test specs get the
  * same engine settings, so a plan printed by one entry point is the
  * plan the others execute.
  *
  * `SPARK_GRAFT_CPUS` (default 4) is the only knob. It sets both the
  * local thread count and `spark.sql.shuffle.partitions`.
  */
object Session extends org.apache.spark.internal.Logging {
  val DefaultCpus = 4

  /** Thread count from a `SPARK_GRAFT_CPUS` value (`None` = unset).
    * Read before the session starts, so a bad value fails at once and
    * not after a whole run.
    */
  def cpus(env: Option[String]): Int = env.fold(DefaultCpus)(v =>
    v.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))

  /** [[cpus]] of this process's environment. */
  def envCpus: Int = cpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `local[cpus]` session with the engine's settings; `conf` adds
    * caller-specific entries (the specs' per-JVM warehouse dir).
    */
  def apply(cpus: Int = envCpus, conf: Map[String, String] = Map.empty)
      : SparkSession = {
    // the two benign environment notices (no native-hadoop lib;
    // plan-string truncation in debug output) are the only WARNs in a
    // clean run — drop them so any WARN in the log is a real signal.
    // Spark loads its own log4j profile on first use, which resets any
    // level set before it, so that load has to happen first.
    initializeLogIfNecessary(false)
    Seq("org.apache.hadoop.util.NativeCodeLoader",
        "org.apache.spark.util.SparkStringUtils").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Let AQE re-optimize cached plans (off by default only to keep
      // cached output partitioning stable for RDD-level consumers,
      // which this engine has none of): without it every .cache()
      // materializes at the full shuffle-partition count and AQE can
      // never coalesce it, so each later stage over the cached relation
      // pays one fixed-cost task per configured partition regardless of
      // data size - measured ~20-50% of the components/LSH family's
      // task CPU at sf0.1, and at production scale it lets cached
      // relations coalesce to data-sized partitions the same way
      // un-cached shuffles already do.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
