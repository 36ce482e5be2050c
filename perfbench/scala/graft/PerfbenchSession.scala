package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's session, from the one copy of the session settings
  * graft's own entry points use (`runtime.Sessions` is package-private,
  * hence this file in graft's package). local[4] with 8 shuffle partitions
  * whatever the host has, so runs on different boxes stay comparable. The
  * local and warehouse dirs come from the `spark.local.dir` and
  * `spark.sql.warehouse.dir` system properties the harness sets. */
object PerfbenchSession {
  val cpus = 4

  def start(): SparkSession = runtime.Sessions.local(cpus, 2 * cpus, "perfbench")
}
