package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — named queries + DuckDB oracle SQL.
  * See SURVEY.md §7.6: every query orders its output, seeds all
  * randomness, rounds floating-point outputs, and aliases columns
  * identically on both sides.
  *
  * The registry itself lives in per-domain objects under
  * `graft/queries/` (VERDICT r9 #6 — the single-file form had grown
  * to 5 kLoC): [[QCore]] (reference pipeline + relational),
  * [[QDedup1]]/[[QDedup2]] (dedup suite), [[QSimText]] (similarity +
  * text/multimodal), [[QRelEvents]] (skew/set-ops/events),
  * [[QCuration]] (funnels + IO), [[QEmbed]] (LM + kNN + PCA evals),
  * [[QTail]] (URL dedup, span corruption, PQ, graph). Shared fixture
  * helpers and SQL fragments are in [[QShared]]. This facade just
  * concatenates them — the driver-facing surface is unchanged.
  */
object SparkEntry {

  /** One named query: Spark plan + optional DuckDB-dialect oracle SQL.
    * `singlePass` declares that [[Bench]] times the entry with one cold
    * pass instead of a cold and a warm pass: it marks the expensive,
    * well-characterized entries whose second pass would not fit the
    * bench's wall. Declared HERE, next to the query, so the pass mode
    * is the same at every core count and survives a rename.
    */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      singlePass: Boolean = false)

  /** The full registry, flags included — Bench reads `singlePass`. */
  lazy val registry: Seq[Q] = all

  private lazy val all: Seq[Q] =
    QCore.qs ++ QDedup1.qs ++ QDedup2.qs ++ QSimText.qs ++
      QRelEvents.qs ++ QCuration.qs ++ QEmbed.qs ++ QTail.qs ++ QCorpus.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_idf")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
