package graft

import org.apache.spark.sql.SparkSession

/** The one place this program builds a SparkSession: every main and the
  * test suite take their session policy from here. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or every core of the machine when it is unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core. A
    * `master` deployment address replaces the local master; the partition
    * count still follows `cores`. */
  def apply(cores: Int = defaultCores, master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // One JVM runs many queries: the ContextCleaner needs GC activity to
      // release finished broadcasts/caches. Round-14 A/B series: a 30s/120s
      // FULL-collection timer landed inside whatever query window it struck
      // (isolated 4-6× outliers on arbitrary sub-second entries, gc_s up to
      // 43), and an explicit between-query System.gc() every 16 queries was
      // worse still (gc_s 48). The staging/cache churn already drives
      // regular young collections that feed the cleaner's reference queue,
      // so the timer is parked at 30min as a safety net only — measured
      // best of the three regimes (105.3s / gc 11.6 vs 123-168s before).
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
