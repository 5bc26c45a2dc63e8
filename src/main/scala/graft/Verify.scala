package graft
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg (local iteration only): comma-separated names;
    // a name that is no query fails here instead of dropping silently
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"name filter '${args(2)}' names no query: " +
        unknown.toSeq.sorted.mkString(", "))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val skipped = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        // a designed refusal (e.g. the all-pairs cap at large SFs) is
        // NOT a failure — it goes to its own manifest (verify_skips
        // .json) and stays out of the FAILED count, so a reader gating
        // on verify_errors entry count can never mistake an expected
        // refusal for a loader regression (the Bench main makes the
        // same skipped-vs-error distinction)
        case e: graft.model.DesignedSkip =>
          skipped(name) = Option(e.getMessage).getOrElse(e.toString)
          System.err.println(s"[verify] $name designed-skip: ${e.getMessage}")
        case e: Throwable =>
          failed(name) = Option(e.getMessage).getOrElse(e.toString)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release query-scoped caches before the next query (clearCache
      // misses localCheckpoint blocks — drop those from the RDD
      // registry). Guarded: if the failure above KILLED the context
      // (fatal executor error in local mode), cleanup on the stopped
      // context must not abort the sweep — the remaining queries'
      // attempts and the manifests below are exactly what makes a
      // dead-context round diagnosable instead of silently zeroed.
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] cache cleanup failed: ${e.getMessage}")
      }
    }
    def write(file: String, m: scala.collection.Map[String, String]): Unit =
      Json.mapper.writeValue(new java.io.File(outDir, file), m)
    write("oracle_sql.json", SparkEntry.oracleSql)
    // Completeness manifests: erroring queries leave no parquet behind,
    // which a per-query compare silently skips — record them explicitly
    // so a loader regression is visible in the round artifacts.
    for ((file, m) <- Seq("verify_errors.json" -> failed, "verify_skips.json" -> skipped))
      write(file, m.map { case (k, v) => k -> v.linesIterator.take(3).mkString(" ") })
    if (skipped.nonEmpty)
      System.err.println(
        s"[verify] ${skipped.size} designed-skip: ${skipped.keys.mkString(", ")}")
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} FAILED: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
