package graft
import org.apache.spark.sql.SparkSession

/** The one local-session configuration every main (and the test suite)
  * runs on, so a battery, a correctness dump and a probe of one query
  * measure the same engine. */
object Session {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[cpus]`, UTC, UI off. Shuffle partitions default to the core
    * count (the local-mode sweet spot); `SPARK_GRAFT_SHUFFLE_PARTITIONS`
    * runs under the cluster-shaped config instead (2-3x cores, AQE
    * coalescing the excess — SCALE.md "Knobs"). */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // Shuffle files outlive the query that wrote them: ContextCleaner
    // only deletes them once the driver GCs the ShuffleDependency, and
    // its default forced-GC period is 30 min. A long battery at a big
    // scale factor accumulates every query's shuffle output meanwhile —
    // the sf30 run filled 59 GB of /tmp this way and died mid-battery.
    // 2 min keeps disk occupancy near the single-query working set.
    .config("spark.cleaner.periodicGC.interval", "2min")

  def apply(cpus: Int = Session.cpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
