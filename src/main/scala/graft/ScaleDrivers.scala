package graft

/** Scale-driver measurement for the SCALING.md curvature analysis
  * (round-9): for each dir, print the near-dup operators' documented COST
  * DRIVERS — SRP candidate-pair volume (q88/q89's bucket-join
  * cardinality, from occupancy alone) and df-bounded posting-pair volume
  * (q27's candidate-join cardinality, from the df histogram alone) — so
  * per-decade wall-time slopes can be judged against the quantity the
  * operator actually processes, not against corpus rows. On the
  * generated corpora the planted cluster/class count is FIXED (10 labels;
  * fixed dup-class arithmetic), so in-cluster pair volume grows
  * quadratically with corpus size BY CONSTRUCTION — this tool measures
  * exactly how much of a super-linear wall-time segment that explains.
  *
  * Usage: runMain graft.ScaleDrivers <dir> [dir...]
  */
object ScaleDrivers {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleDrivers <dir> [dir...]")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { dir =>
      val c = ops.Ann.candidateStats(spark, dir).head()
      // Optional occupancy-cap sweep (SPARK_GRAFT_OCC_SWEEP=64,128,…):
      // the capped pair volume at each budget — the cost half of the
      // recall/cost trade curve SCALING.md documents. With
      // SPARK_GRAFT_RECALL_SWEEP=<threshold> the capped operator RUNS at
      // each budget and the emitted pair count lands beside the cost —
      // the recall half (output vs the uncapped pair set) from the same
      // command.
      val recallThresh = sys.env.get("SPARK_GRAFT_RECALL_SWEEP").map(_.toDouble)
      val sweep = sys.env.get("SPARK_GRAFT_OCC_SWEEP")
        .map(_.split(',').map(_.trim.toInt).toSeq).getOrElse(Nil)
        .map { cap =>
          val r = ops.Ann.candidateStats(spark, dir, occCap = cap).head()
          val out = recallThresh.map { t =>
            // one action: emitted pair count + distinct DROP MEMBERS
            // (vec_b of each pair — what greedy dedup consumes; the
            // locality chain exists to keep THIS at ~1.0 under capping)
            val row = ops.Ann.embeddingNearDupCapped(spark, dir, t,
                nplanes = r.getInt(1), occCap = cap)
              .agg(org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)),
                org.apache.spark.sql.functions.countDistinct(
                  org.apache.spark.sql.functions.col("vec_b")))
              .head()
            graft.Caches.releasePrefix("ann.")
            spark.catalog.clearCache()
            s""","out":${row.getLong(0)},"drop_members":${row.getLong(1)}"""
          }.getOrElse("")
          s""""$cap":{"pairs":${r.getLong(5)}$out}"""
        }
      val sweepJson =
        if (sweep.isEmpty) "" else sweep.mkString(""","cap_sweep":{""", ",", "}")
      val p = ops.TextPipeline.postingStats(spark, dir).head()
      // Hot-fallback driver histogram (round-14 verdict item 8): the
      // mega-cluster probe's pair-volume bound, from the hot posting
      // histogram alone — no pair join executed.
      val h = ops.TextPipeline.hotFallbackStats(spark, dir).head()
      println(
        s"""{"dir":"$dir","srp":{"n":${c.getLong(0)},""" +
          s""""nplanes":${c.getInt(1)},"n_buckets":${c.getLong(2)},""" +
          s""""max_occ":${c.getLong(3)},"cand_pairs":${c.getLong(4)},""" +
          s""""capped_pairs":${c.getLong(5)}$sweepJson},""" +
          s""""shingle":{"n_docs":${p.getLong(0)},""" +
          s""""rare_shingles":${p.getLong(1)},""" +
          s""""posting_pairs":${p.getLong(2)},""" +
          s""""cand_pairs":${p.getLong(3)},""" +
          s""""rerank_rows":${p.getLong(4)}},""" +
          s""""hot_fallback":{"qualifying_docs":${h.getLong(1)},""" +
          s""""hot_buckets":${h.getLong(2)},""" +
          s""""max_bucket_occ":${h.getLong(3)},""" +
          s""""driver_pairs":${h.getLong(4)},""" +
          s""""capped_pairs":${h.getLong(5)}}}""")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
