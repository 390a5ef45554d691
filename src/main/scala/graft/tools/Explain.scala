package graft.tools

import graft.SparkEntry

/** Plan-audit utility: prints `explain("formatted")` for the named
  * queries (or a default audit set) so scan pushdown (PushedFilters /
  * ReadSchema), join strategy (BroadcastHashJoin vs SortMergeJoin) and
  * WholeStageCodegen spans can be inspected per query.
  *
  * Usage: runMain graft.tools.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_flagship_geo_rollup", "q04_filter_project", "q07_topk",
               "q08_global_sort", "q42_minhash_lsh_pairs", "q46_cosine_topk",
               "q64_partitioned_dpp", "q69_bucketed_join", "q74_asof_join",
               "q102_quantized_ann", "q103_sequence_pack", "q109_incremental_near_dedup",
               // q277_takedown_cert deliberately NOT in the default set
               // (ADVICE r15): takedownServingCert runs an eager
               // rm.count(), materializes localCheckpoints and fits the
               // IVF/PQ artifacts at plan-build time — an "explain" must
               // stay a plan print. Name it explicitly to audit it.
               "q280_session_pack",
               "q281_session_pack_incremental",
               // q284 is declarative end-to-end (no driver action), so
               // its plan audits cleanly; q283 stays out for the same
               // reason as q277 (eager filter builds at plan time)
               "q284_user_takedown",
               // q290 is declarative like q284 (commitment aggregates,
               // no driver actions); q288/q291/q292 stay out (eager
               // index fits / removal collects at plan time)
               "q290_user_quarantine_roundtrip")
    val spark = graft.GraftSession.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
