package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  *
  * Usage: Verify <sfDir> <outDir> [q_a,q_b,…] — the optional third
  * argument restricts the dump (and oracle_sql.json) to those names.
  * Exits 1, after dumping everything else, when any query threw; the
  * names are in `<outDir>/failures.txt`.
  *
  * Queries run CONCURRENTLY on a small thread pool. They are mutually
  * independent (own sources, own output dir, query-unique temp-view
  * names), and at gate SF the wall-clock is dominated by per-query job
  * scheduling + the coalesce(1) single-file write, not compute —
  * overlapping them cuts the sweep several-fold. Round-5 lesson: the
  * sequential sweep grew past the driver's external timeout and the
  * round's correctness came back empty.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(sf, out)    => (sf, out, None)
      case Array(sf, out, f) => (sf, out, Some(f.split(",").toSet))
    }
    val spark = GraftSession(GraftSession.cpus)
    val entries = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    // tmpfs input copy — one slow disk pass, RAM-speed scans after (Scratch)
    val failures = dump(spark, Scratch.localize(sfDir), outDir, entries)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} failed: " +
        s"${failures.mkString(",")} (listed in $outDir/failures.txt)")
      sys.exit(1)
    }
  }

  /** Dump `entries` under `outDir` and return the names that threw,
    * also written to `outDir/failures.txt` when there are any. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      entries: Seq[SparkEntry.Q]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failuresFile = Paths.get(outDir, "failures.txt")
    Files.deleteIfExists(failuresFile)

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written FIRST: if the sweep is killed mid-run, the oracle map (and
    // every query dumped so far) still exists for a partial compare
    val json = entries.flatMap(e => e.oracle.map(o => s"${q(e.name)}: ${q(o)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json)

    val queue = new java.util.concurrent.ConcurrentLinkedQueue[SparkEntry.Q]()
    entries.sortBy(_.name).foreach(queue.add)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // No per-query unpersist here: with concurrent queries in flight a
    // blanket release would yank another query's localCheckpoint blocks
    // mid-job. Gate-SF checkpoint blocks are a few MB each; the session
    // simply carries them to the end.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    val threads = (1 to par).map { _ =>
      val t = new Thread(() => {
        var e = queue.poll()
        while (e != null) {
          val t0 = System.nanoTime()
          try {
            e.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/${e.name}")
            System.err.println(
              f"[verify] ${e.name} ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch { case err: Throwable =>
            System.err.println(s"[verify] ${e.name} failed: ${err.getMessage}")
            failed.add(e.name)
          }
          e = queue.poll()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val failures = failed.asScala.toSeq.sorted
    if (failures.nonEmpty)
      Files.writeString(failuresFile, failures.mkString("", "\n", "\n"))
    failures
  }
}
