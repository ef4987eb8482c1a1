package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every harness main's session contract ([[Bench]], [[Verify]],
  * [[Explain]], [[HashCheck]], [[ProfileQuery]], [[ScaleGen]],
  * [[ScaleDrivers]], [[ComponentsScale]], [[PqGeometry]],
  * [[IvfGeometry]]): master from `SPARK_GRAFT_MASTER` (default
  * `local[SPARK_GRAFT_CPUS]`, cpus default 32), shuffle partitions =
  * worker threads, UTC session time, no UI, graft extensions registered
  * — and for `local-cluster` masters the packaged graft jar on the
  * executor classpath (`sbt package` output, or `SPARK_GRAFT_JAR`). One
  * definition, so no two tools can drift on session config. A main that
  * needs more (a log level, a local dir) sets it on top. */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def builder(): SparkSession.Builder = {
    val m = master
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the standard extensions path: native expressions as SQL functions
      .config("spark.sql.extensions", "graft.GraftExtensions")
    if (m.startsWith("local-cluster")) {
      val jar = sys.env.get("SPARK_GRAFT_JAR").orElse {
        val dir = new java.io.File("target/scala-2.13")
        Option(dir.listFiles()).flatMap(_.find(f =>
          f.getName.endsWith(".jar") && !f.getName.contains("sources")))
          .map(_.getAbsolutePath)
      }.getOrElse(sys.error(
        "local-cluster master needs the packaged graft jar: run `sbt " +
          "package` or set SPARK_GRAFT_JAR"))
      b.config("spark.jars", jar)
    }
    b
  }

  /** The harnesses' one timer: wall seconds to build `df` and materialize
    * every column of it through the noop sink (nothing collected —
    * `.count()` would let Catalyst prune the aggregate/window work out of
    * the measurement). Building sits inside the clock because eager
    * fixpoint and checkpoint jobs run at construction. */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
