package graft

import graft.queries.GraftQuery
import org.apache.spark.sql.functions._

/** `Sweep.run` in the shared session on sf0.001: no forked JVM. */
class SweepSpec extends SparkSpec {

  private def records(file: java.nio.file.Path) = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.readAllLines(file).asScala.toSeq.map(l => mapper.readTree(l))
  }

  private def outFile() = {
    val f = java.nio.file.Files.createTempFile("graft_sweep", ".jsonl")
    f.toFile.deleteOnExit()
    f
  }

  test("a sweep run materializes the projected columns a count() prunes") {
    // the only cost of this query is a column that fails when evaluated
    val boom = GraftQuery("boom_column", (s, _) =>
      s.range(10).select(col("id"), raise_error(lit("boom")).as("x")), None)
    assert(boom.run(spark, testDataDir).count() == 10)
    val out = outFile()
    val failed = Sweep.run(spark, testDataDir, Seq(boom), out.toString)
    assert(failed == Seq("boom_column"))
    val rec = records(out).find(_.path("name").asText == "boom_column").get
    assert(rec.path("error").asText.contains("boom"), rec.toString)
    assert(!rec.has("median"), "a failed query must not carry a time")
  }

  test("a two-query subset records both medians, the config and the tree") {
    val out = outFile()
    val names = Env.parseNames("q1_pricing_summary, a1_composite_agg")
    val failed = Sweep.run(spark, testDataDir, Verify.select(names), out.toString)
    assert(failed.isEmpty)
    val recs = records(out)
    val config = recs.head
    assert(config.path("sf").asText == testDataDir)
    assert(config.path("master").asText.startsWith("local"))
    assert(config.path("shuffle_partitions").asText == "4")
    assert(config.has("adaptive") && config.path("jvm_args").isArray)
    assert(config.path("tree").asText.matches("[0-9a-f]{12}(-dirty)?"))
    val byName = recs.tail.map(r => r.path("name").asText -> r).toMap
    assert(byName.keySet.intersect(names) == names)
    names.foreach { n =>
      val r = byName(n)
      assert(r.path("median").asDouble >= 0, r.toString)
      assert(r.path("q1").asDouble <= r.path("median").asDouble)
      assert(r.path("median").asDouble <= r.path("q3").asDouble)
      assert(r.path("times").size == 5)
    }
  }

  test("one-shot Scratch builds are timed under their kind") {
    import graft.queries.Scratch
    val sf = java.util.UUID.randomUUID().toString // a kind/sf pair of its own
    val built = GraftQuery("scratch_built", (s, _) => {
      Scratch.buildOnce(Scratch.dir("spec_sweep_build", sf))(Thread.sleep(50))
      s.range(3).toDF()
    }, None)
    val out = outFile()
    assert(Sweep.run(spark, testDataDir, Seq(built), out.toString).isEmpty)
    val rec = records(out).find(_.path("name").asText == "build:spec_sweep_build")
      .getOrElse(fail("no build record"))
    // built once in the first warm-up round, latched for the other six
    assert(rec.path("times").size == 1)
    assert(rec.path("times").get(0).asDouble >= 0.05, rec.toString)
  }

  test("treeHash reads a commit hash (and marks a dirty tree)") {
    val h = Sweep.treeHash
    assert(h != "unknown", "git rev-parse failed in the repo")
    assert(h.matches("[0-9a-f]{12}(-dirty)?"), s"unexpected tree hash: $h")
  }
}
