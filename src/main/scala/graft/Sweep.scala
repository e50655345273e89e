package graft
import graft.Verify.q
import graft.queries.{GraftQuery, Scratch}
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Per-query timings: `Sweep <sfDir> <outFile>`, over `Verify`'s registry
  * selection (`SPARK_GRAFT_ONLY`) in `Verify`'s session. Each run writes
  * the full result to the `noop` sink, so it pays for every column
  * `Verify` dumps; a row count would let Catalyst prune aggregates,
  * windows and text rebuilds. [[Warmups]] untimed, then [[Timed]] timed
  * rounds each run every selected query in turn, so drift in the JVM or
  * the host spreads over all queries instead of landing on the last ones.
  *
  * `outFile` gets JSON lines: the effective config, one record per query
  * (median, q1, q3 and raw seconds, or the error that stopped it) and one
  * per one-shot `Scratch` build (`build:<kind>`). A failed query carries
  * no time, and the sweep exits non-zero after writing, as `Verify` does. */
object Sweep {
  val Warmups = 2
  val Timed = 5

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val selected = Verify.select(Env.only)
    val spark = Verify.session()
    val failed = run(spark, sfDir, selected, outFile)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[sweep] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Sweep `queries` into `outFile`; returns the names that failed. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[GraftQuery],
          outFile: String): Seq[String] = {
    val times = queries.map(_.name -> Vector.newBuilder[Double]).toMap
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (round <- 0 until Warmups + Timed; query <- queries
         if !errors.contains(query.name)) {
      val t0 = System.nanoTime()
      try {
        query.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (round >= Warmups) times(query.name) += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[sweep] ${query.name} failed: ${e.getMessage}")
        errors(query.name) = String.valueOf(e.getMessage)
      }
    }
    def obj(fields: (String, String)*): String =
      fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    def num(t: Double): String = f"$t%.4f"
    def nums(ts: Seq[Double]): String = ts.map(num).mkString("[", ",", "]")
    val config = obj("sf" -> q(sfDir), "tree" -> q(treeHash),
      "master" -> q(spark.sparkContext.master),
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "adaptive" -> q(spark.conf.get("spark.sql.adaptive.enabled")),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .map(q).mkString("[", ",", "]"),
      "warmups" -> Warmups.toString, "timed" -> Timed.toString)
    val perQuery = queries.map { query =>
      val name = "name" -> q(query.name)
      errors.get(query.name) match {
        case Some(msg) => obj(name, "error" -> q(msg))
        case None =>
          val ts = times(query.name).result()
          val s = ts.sorted // of 5 runs: q1, median, q3 = s(1), s(2), s(3)
          obj(name, "median" -> num(s(s.size / 2)), "q1" -> num(s(s.size / 4)),
            "q3" -> num(s(s.size - 1 - s.size / 4)), "times" -> nums(ts))
      }
    }
    val builds = Scratch.buildSeconds.toSeq.sortBy(_._1).map { case (kind, ts) =>
      obj("name" -> q(s"build:$kind"), "times" -> nums(ts))
    }
    Files.write(Paths.get(outFile), (config +: (perQuery ++ builds)).asJava)
    errors.keys.toSeq
  }

  /** The measured tree: HEAD's hash, marked `-dirty` when the working copy
    * differs from it; "unknown" outside a git checkout. */
  def treeHash: String =
    try {
      def git(args: String*): String = {
        val p = new ProcessBuilder(("git" +: args): _*).start()
        try new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        finally p.waitFor()
      }
      val h = git("rev-parse", "--short=12", "HEAD")
      if (h.isEmpty) "unknown"
      else if (git("status", "--porcelain").nonEmpty) h + "-dirty"
      else h
    } catch { case _: Throwable => "unknown" }
}
