package graft

import org.apache.spark.sql.DataFrame

/** Scale harness for the dedup-components fixpoint family (q60/q93/
  * q138) at generated decades — wall time per operator, the fixpoint's
  * rounds-to-convergence ([[ops.Scale.lastComponentRounds]]), the
  * CAPPED evidence volume actually joined ([[ops.TextPipeline
  * .shingleEvidence]]) and the hot-fallback driver histogram
  * (driver_pairs vs capped_pairs) — the verdict-item-3/4 record: the
  * components family must finish a planted mega-cluster corpus WITHOUT
  * materializing C(d,2) pairs, and the fixpoint's decade behavior
  * (rounds stay diameter-bounded) needs a measured 1000× point.
  *
  * Each operator is timed through [[Sessions.noopSeconds]] (every
  * column materialized); its printed `rows` come from a separate,
  * untimed count.
  *
  * Usage: runMain graft.ComponentsScale <dir> [dir...]
  */
object ComponentsScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ComponentsScale <dir> [dir...]")
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    /** (wall seconds, fixpoint rounds read right after the timed run,
      * rows); the session cache is cleared afterwards. */
    def timed(build: => DataFrame): (Double, Int, Long) = {
      var df: DataFrame = null
      val secs = Sessions.noopSeconds { df = build; df }
      val rounds = ops.Scale.lastComponentRounds
      try (secs, rounds, df.count())
      finally spark.catalog.clearCache()
    }
    args.foreach { dir =>
      // evidence leg first: the capped near-dup edge stream the family
      // consumes, counted (the measured "edge volume <= K*n" claim)
      val (evSec, _, nearEdges) =
        timed(ops.TextPipeline.shingleEvidence(spark, dir))
      val (s60, r60, n60) = timed(ops.TextPipeline.dedupComponents(spark, dir))
      val (s93, r93, n93) =
        timed(ops.TextPipeline.componentRepresentatives(spark, dir))
      val (s138, r138, n138) = timed(ops.TextPipeline.dedupImpact(spark, dir))
      val h = ops.TextPipeline.hotFallbackStats(spark, dir).head()
      spark.catalog.clearCache()
      println(
        s"""{"dir":"$dir","near_edges":$nearEdges,"evidence_s":$evSec,""" +
          f""""q60":{"secs":$s60%.1f,"rounds":$r60,"rows":$n60},""" +
          f""""q93":{"secs":$s93%.1f,"rounds":$r93,"rows":$n93},""" +
          f""""q138":{"secs":$s138%.1f,"rounds":$r138,"rows":$n138},""" +
          s""""hot_fallback":{"n_docs":${h.getLong(0)},""" +
          s""""qualifying_docs":${h.getLong(1)},""" +
          s""""max_bucket_occ":${h.getLong(3)},""" +
          s""""driver_pairs":${h.getLong(4)},""" +
          s""""capped_pairs":${h.getLong(5)}}}""")
    }
    spark.stop()
  }
}
