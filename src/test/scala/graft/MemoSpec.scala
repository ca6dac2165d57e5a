package graft

import java.nio.file.{Files, Paths}
import graft.queries.{LinkageQueries, RefFileQueries}
import org.apache.spark.sql.classic

/** The shared-intermediate contract: [[Memo]]'s latest-key slot releases
  * what it held, every memo read inside a build is a declared dependency,
  * the warm phase reports its failures, and [[Memo.par]] keeps order and
  * surfaces failures.
  */
class MemoSpec extends SparkTestBase {

  test("par returns results in thunk order and rethrows a failure") {
    val out = Memo.par((1 to 4).map(i => () => { Thread.sleep(40L * (4 - i)); i * 10 }))
    assert(out === Seq(10, 20, 30, 40))
    assert(Memo.par(Seq.empty[() => Int]).isEmpty)
    val e = intercept[IllegalStateException] {
      Memo.par(Seq(() => 1, () => throw new IllegalStateException("boom"), () => 3))
    }
    assert(e.getMessage === "boom")
  }

  test("a read of one memo inside another's build is observed") {
    val inner = Memo("spec_inner")((_: Int) => Nil)((_, _) => 1)
    val outer = Memo("spec_outer")((_: Int) => Nil)((s, d) =>
      Memo.par(Seq(() => inner(s, d))).head + 1)
    assert(outer(spark, "k") === 2)
    // Read through a par thunk, still attributed to the enclosing build.
    assert(Memo.observedReads.contains("spec_outer" -> "spec_inner"))
    assert(!Memo.observedReads.exists(_._1 == "spec_inner"))
  }

  test("linkage/reffile warm step names and order are the benchmark's contract") {
    // linkbench's traced `link` run maps each of these names to a layer
    // and throws on an unknown one before its first span.
    assert((LinkageQueries.warmSteps ++ RefFileQueries.warmSteps).map(_._1) === Seq(
      "linkage_sides", "linkage_reffiles", "linkage_scored_block",
      "linkage_cost_summary", "cascade_links", "reffile_chain", "reffile_accuracy"))
    val steps = SparkEntry.warmSteps.map(_._1)
    assert(steps.distinct === steps)
    assert(SparkEntry.warmDeps.values.flatten.forall(steps.contains))
  }

  test("src/main has no TrieMap, Duration.Inf or ExecutionContext.global") {
    val banned = Seq("TrieMap", "Duration.Inf", "ExecutionContext.global")
    val hits = Files.walk(Paths.get("src/main")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        banned.filter(text.contains).map(b => s"$p: $b")
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every memo read during a full warm is a declared dependency") {
    val steps = SparkEntry.runWarm(spark, sfDir)
    assert(steps.map(_.name) === SparkEntry.warmSteps.map(_._1))
    assert(steps.forall(_.error.isEmpty), steps.flatMap(_.error).mkString("\n"))
    val deps = SparkEntry.warmDeps
    val undeclared = Memo.observedReads.filter { case (reader, read) =>
      deps.contains(reader) && !deps(reader).contains(read)
    }
    assert(undeclared.isEmpty, s"undeclared memo reads: $undeclared")
    assert(Memo.observedReads.contains("linkage_cost_summary" -> "linkage_reffiles"))
  }

  test("switching a memo's key unpersists the frame it held") {
    val cm = spark.sharedState.cacheManager
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      cm.lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isDefined
    val first = LinkageQueries.scoredBlock(spark, sfDir)
    first.count()
    assert(cached(first))
    // Same data under another path: a new key, a different plan.
    val alias = Files.createTempDirectory("memo-alias").resolve("sf")
    Files.createSymbolicLink(alias, Paths.get(sfDir).toAbsolutePath)
    try {
      LinkageQueries.scoredBlock(spark, alias.toString).count()
      assert(!cached(first))
    } finally {
      LinkageQueries.memos.foreach(_.release())
      Files.delete(alias)
      Files.delete(alias.getParent)
    }
  }

  test("runWarm over a missing dir reports every step as failed") {
    val parent = Files.createTempDirectory("memo-missing")
    try {
      val steps = SparkEntry.runWarm(spark, parent.resolve("absent").toString)
      assert(steps.map(_.name) === SparkEntry.warmSteps.map(_._1))
      val ok = steps.filter(_.error.isEmpty).map(_.name)
      assert(ok.isEmpty, s"steps that did not fail: $ok")
    } finally Files.delete(parent)
  }
}
