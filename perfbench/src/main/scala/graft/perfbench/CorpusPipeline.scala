package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** North-star operators on a seeded sf0.01 corpus: one pass over `Queries`,
  * in order, each through the `noop` sink, with the session memos on and
  * cold. The list keeps every memo pair that shares work within one pass
  * (dd2 -> dd12, dd8 -> dd14, mm5 -> mm7, s16), the planning-floor rows
  * (q39, q61), the shuffle-heavy and driver-tier graph rows (q57, q58,
  * q60), the text pipeline (p8) and one writing query (q70). The op is the
  * whole pass.
  *
  * Answers are checked after the pass, outside the timed region: `Verify`
  * dumps each query's result and oracle SQL, and `run.py` compares them
  * with DuckDB.
  */
final class CorpusPipeline(work: String) extends Workload {
  val Queries: Seq[String] = Seq(
    "q55_dq_report", "q70_compact_small_files", "dd2_shingle_jaccard",
    "dd12_containment", "dd8_neardup_clusters", "dd14_canonical_pick",
    "mm5_phash_neardup", "mm7_phash_clusters", "s16_recall_eval",
    "p8_full_pipeline", "q39_sql_e2e", "q61_recursive_spine",
    "q57_copurchase_pairs", "q58_pagerank", "q60_triangle_count")

  private val corpus = s"$work/corpus"
  private val walls = mutable.LinkedHashMap.empty[String, Double]

  private def run(spark: SparkSession, q: String, dir: String): Unit = {
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  /** JIT warm-up on a tiny corpus in its own directory: the memos are keyed
    * by directory, so the measured pass still starts cold.
    */
  def setup(spark: SparkSession): Unit =
    run(spark, "q55_dq_report", s"$work/corpus_warm")

  def measure(spark: SparkSession, deadlineNs: Long, trace: Trace, res: Results): Unit = {
    val t0 = System.nanoTime()
    val ok = Queries.map { q =>
      val q0 = System.nanoTime()
      val done = res.attempt(q)(trace.span(s"queries.$q")(run(spark, q, corpus))).isDefined
      walls(q) = (System.nanoTime() - q0) / 1e9
      done
    }
    if (ok.forall(identity)) res.opS += (System.nanoTime() - t0) / 1e9
    res.sampleRetainedHeap()
    res.report("query_wall_s") = walls
  }

  /** Dump results and oracle SQL for the DuckDB comparison. Verify stops
    * the session when it is done.
    */
  override def afterLoop(spark: SparkSession, trace: Trace, res: Results): Unit =
    graft.Verify.main(Array(corpus, s"$work/oracle", Queries.mkString(",")))

  override def layers(trace: Trace): Seq[(String, Double)] =
    Queries.flatMap { q =>
      Seq(s"queries.$q.wall_s" -> walls.getOrElse(q, 0.0),
        s"queries.$q.jobs" -> trace.sparkSum(_ == s"queries.$q")(_.jobs).toDouble)
    }
}
