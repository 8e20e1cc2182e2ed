package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (guide: one session per JVM). */
object SparkSessions {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A new session over the same SparkContext with its own shared state
    * (cache manager, catalog), so nothing another suite cached or registered
    * reaches it. `spark` stays the default and active session.
    */
  def isolated(builder: SparkSession.Builder): SparkSession = {
    val shared = spark
    val s = builder.create()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }
}
