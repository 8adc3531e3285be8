package graft.tools

import graft.GraftSession

/** Dev diagnostic: print formatted physical plans for selected queries
  * (plan-quality review — pushdown, broadcast choice, codegen spans),
  * on Bench's session shape.
  * `runMain graft.tools.Plans [queryName …]`; `SPARK_GRAFT_EXTRA_CONF`
  * sets session confs, e.g. `spark.graft.memo.disabled=true` to see
  * through the artifact memos to the real computation's plan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus,
      extra = GraftSession.extraConfFromEnv)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
