package graft

import org.apache.spark.sql.SparkSession

/** The local session the mains and the test suites run on: `local[cores]`
  * with one shuffle partition per core, UTC session time zone, no UI,
  * NANOS event timestamps readable ([[Tables.nanosConf]]), and the
  * graft SQL functions when `extensions` is set. Returns the builder so
  * a caller can add a context-level conf before `getOrCreate()`.
  */
object LocalSession {
  def builder(cores: Int, extensions: Boolean): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.nanosConf, "true")
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions") else b
  }
}
