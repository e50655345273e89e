package graft
import graft.queries.GraftQuery
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The local session of `Verify` and [[Sweep]]: `SPARK_GRAFT_CPUS` cores
    * and shuffle partitions; UTC, so `Tables.events` casts and session
    * gaps do not depend on the host's zone. */
  def session(): SparkSession = {
    val cpus = Env.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries named in `only` (all of them when empty), in
    * registration order. Unknown names fail fast — a typo would otherwise
    * select zero queries and exit 0, a run that checked nothing. */
  def select(only: Set[String]): Seq[GraftQuery] = {
    val all = SparkEntry.allQueries
    val unknown = only.diff(all.map(_.name).toSet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    all.filter(q => only.isEmpty || only(q.name))
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in oracle SQL would otherwise make `oracle_sql.json`
    * unreadable, and every oracle check with it. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = select(Env.only)
    val spark = session()
    // wipe any previous dump first: a query that fails this run must not
    // leave a stale (passing) result from an earlier run in its place
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(outPath, true)
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { query =>
      try {
        query.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${query.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
        Some(query.name)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      // a query that errors would otherwise just be missing from the dump
      // and read as "fewer queries", not as a failure — exit non-zero so
      // the gate sees it
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
