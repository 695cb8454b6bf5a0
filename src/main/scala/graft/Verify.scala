package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: only run queries whose name starts with the
    // given prefix (local iteration aid; the driver always passes 2).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, p) => (s, o, Some(p))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // the optimizer rule runs under the ORACLE gate: every
      // HOF-cosine query is fused by FuseCosineRule and still must
      // hash-match DuckDB — continuous proof the rewrite preserves
      // semantics.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def selected(name: String) = only.forall(name.startsWith)
    val errors = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (selected(name)) runOne(spark, name, fn, sfDir, outDir) else None
    }
    writeErrors(spark, outDir, errors)
    writeOracleSql(outDir, SparkEntry.oracleSql.filter(kv => selected(kv._1)))
    spark.stop()
  }

  /** Runs one registered query; on failure returns the error and
    * ALSO writes a 1-row `__error` parquet under the query's output
    * path, so the downstream oracle compare turns the row RED
    * (schema/hash mismatch) instead of the query silently vanishing
    * from the correctness file. */
  private[graft] def runOne(spark: SparkSession, name: String,
                            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                            sfDir: String, outDir: String): Option[(String, String)] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      System.err.println(s"[verify] $name failed: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("__error").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case w: Throwable =>
        System.err.println(s"[verify] $name error-row write failed: $w") }
      Some(name -> msg)
    }

  /** Persists `{name: {"err": msg}}` as verify_errors.json (always
    * written — empty `{}` on a clean run, so its absence is itself a
    * signal that Verify aborted before finishing). */
  private[graft] def writeErrors(spark: SparkSession, outDir: String,
                                 errors: Seq[(String, String)]): Unit = {
    writeJson(s"$outDir/verify_errors.json",
      errors.map { case (k, m) => k -> java.util.Map.of("err", m) })
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: " +
          errors.map(_._1).mkString(", "))
  }

  /** Persists `{name: oracle SQL}` as oracle_sql.json, the DuckDB
    * compare's input. */
  private[graft] def writeOracleSql(outDir: String,
                                    sql: Iterable[(String, String)]): Unit =
    writeJson(s"$outDir/oracle_sql.json", sql)

  /** `entries` as one JSON object. Jackson escapes every key and value
    * (quotes, backslashes and all control characters), so SQL or an
    * error message carrying a tab or CR still parses downstream. */
  private def writeJson(path: String, entries: Iterable[(String, AnyRef)]): Unit = {
    val obj = new java.util.LinkedHashMap[String, AnyRef]()
    entries.foreach { case (k, v) => obj.put(k, v) }
    Files.writeString(Paths.get(path), new ObjectMapper().writeValueAsString(obj))
  }
}
