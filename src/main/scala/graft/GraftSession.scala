package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured — every main and the
  * test suites build through here, so their settings cannot drift.
  *
  *   - shuffle partitions = pool: at the registry's input sizes a wider
  *     shuffle buys only task-wakeup latency;
  *   - session time zone UTC: the events adapter casts NTZ wall-clock
  *     through the session zone, and a non-UTC host default would shift
  *     ts/ts_ns and break oracle parity;
  *   - `nanosAsLong`: the events table stores nanosecond timestamps;
  *   - shuffle/spill and the warehouse (bucketed `saveAsTable`) live
  *     under [[Scratch]], deleted when the JVM exits.
  */
object GraftSession {

  /** Requested parallelism: `SPARK_GRAFT_CPUS` if set, else the host's
    * processors, capped at 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  def apply(pool: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$pool]")
      .config("spark.sql.shuffle.partitions", pool)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Scratch.dir("graft-local"))
      .config("spark.sql.warehouse.dir", Scratch.dir("graft-wh"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
