package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Production-geometry PQ recall sweep — the measurement behind
  * SCALING.md's K/SQ_CAND trade table (round-14 verdict item 3).
  *
  * The REGISTERED q154/q163 run the M=8/K=16 fixture geometry (32
  * bits/vector, a 64× compression) because that keeps the full
  * Lloyd-train → encode → ADC chain replayable as one DuckDB oracle;
  * its measured 100× recall@10 is 0.3375, and the standing claim was
  * "production raises K (256) and SQ_CAND — the same construction".
  * This main makes that claim a measured curve: for each (k, cand) it
  * trains the k-entry codebooks (driver-cached, the same
  * [[graft.ops.Ann]] training body), serves PQ top-k at candidate depth
  * `cand`, and reports mean recall@10 against the exact brute-force leg
  * plus the serve's wall time.
  *
  * Usage: runMain graft.PqGeometry <sfDir> [k:cand[,k:cand...]]
  *   default sweep: 16:40 (the fixture), 64:40, 64:80, 64:160
  * Output: one JSON line per geometry + a closing summary line.
  */
object PqGeometry {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val lines = GeometrySweep.run(
      args.lift(1).getOrElse("16:40,64:40,64:80,64:160"), "k:cand",
      (k, cand) => s""""k":$k,"cand":$cand""") { (spark, k, cand) =>
      graft.ops.Ann.pqRecallGeom(spark, dir, k, cand)
    }
    println(s"""{"sweep":[${lines.mkString(",")}],"dir":"$dir"}""")
  }
}

/** Serve-side IVF+PQ trade sweep — nprobe × rerank depth at a fixed
  * codebook (round-16 verdict item 8: the PQ knobs K/cand have a
  * measured 100× trade curve ending at 1.0; the composed q158/q164
  * serve still rode fixture nprobe). For each (nprobe, cand) this
  * trains once (driver-cached), serves IVFADC top-k probing `nprobe`
  * of the [[graft.ops.Ann.IVF_NCENTROIDS]] coarse cells with exact
  * rerank depth `cand`, and reports mean recall@10 against brute force
  * plus the serve+eval wall — the recall-vs-fraction-of-corpus-touched
  * curve a deployment tunes.
  *
  * Usage: runMain graft.IvfGeometry <sfDir> [np:cand[,np:cand...]] [k]
  *   default sweep: 1:40, 2:40, 4:40 (the fixture), 8:40, 16:40 (probe
  *   ALL cells — the PQ-only ceiling at this cand), 4:160, 8:160
  * Output: one JSON line per geometry + a closing summary line. */
object IvfGeometry {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 2) args(2).trim.toInt else graft.ops.Ann.PQ_K
    val lines = GeometrySweep.run(
      args.lift(1).getOrElse("1:40,2:40,4:40,8:40,16:40,4:160,8:160"),
      "nprobe:cand", (np, cand) => s""""nprobe":$np,"cand":$cand,"k":$k""") {
      (spark, np, cand) =>
        graft.ops.Ann.ivfPqRecallGeom(spark, dir, np, cand, k)
    }
    println(s"""{"ivf_sweep":[${lines.mkString(",")}],"k":$k,"dir":"$dir"}""")
  }
}

/** The sweep body [[PqGeometry]] and [[IvfGeometry]] share. Every `a:b`
  * token of `spec` (named by `shape`) is parsed before the session
  * starts. Per geometry the recall frame is built and counted once
  * untimed (the codebook is a build-time artifact — the warmPq
  * contract), then built again and collected under the clock. Prints
  * and returns one JSON line per geometry: `fields(a, b)`, the mean
  * recall@10 and the timed serve+eval wall. */
private object GeometrySweep {
  def run(spec: String, shape: String, fields: (Int, Int) => String)(
      recall: (SparkSession, Int, Int) => DataFrame): Seq[String] = {
    val geoms = spec.split(',').toSeq.map { g =>
      // clear diagnostics beat a MatchError in a measurement main
      // (round-15 ADVICE)
      val parts = g.split(':')
      require(parts.length == 2 && parts.forall(_.trim.matches("\\d+")),
        s"geometry token '$g' is not $shape (e.g. 64:160)")
      (parts(0).trim.toInt, parts(1).trim.toInt)
    }
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = geoms.map { case (a, b) =>
      recall(spark, a, b).count()
      val t0 = System.nanoTime()
      val rows = recall(spark, a, b).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // empty-guard: a recall frame with zero query rows must read as a
      // loud failure, not a NaN smuggled into the JSON record
      require(rows.nonEmpty, s"$shape = $a:$b returned zero query rows")
      val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
      spark.catalog.clearCache()
      graft.Caches.releasePrefix("ann.")
      val line = s"{${fields(a, b)}," +
        f""""mean_recall_at_10":$mean%.4f,"eval_s":$secs%.1f}"""
      println(line)
      line
    }
    spark.stop()
    lines
  }
}
