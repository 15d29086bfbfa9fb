package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.expr.GraftFunctions
import graft.plans.{GraftStrategies, PushFilterThroughAsof}

/** One session setup and one install: every catalog entry reaches graft's
  * functions, planner strategy and optimizer rule through the catalog
  * boundary, on any session — including a fresh `newSession()`, which
  * starts with no graft state — and the source keeps a single session
  * builder and the four install sites.
  */
class GraftInstallSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("one catalog entry installs every graft function, the strategy " +
      "and the rule on a fresh session") {
    val fresh = spark.newSession()
    val names = GraftFunctions.entries.map(_._1)
    assert(names.nonEmpty)
    assert(!names.exists(fresh.catalog.functionExists),
      "a new session must start without graft functions")
    SparkEntry.queries("q01_cast_enforce")(fresh, sf)
    val missing = names.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not installed: ${missing.mkString(",")}")
    assert(fresh.experimental.extraStrategies.contains(GraftStrategies))
    assert(fresh.experimental.extraOptimizations.contains(PushFilterThroughAsof))
  }

  test("minhash and native asof entries run on a fresh session with no " +
      "other registration") {
    val fresh = spark.newSession()
    try {
      assert(SparkEntry.queries("q183_native_minhash")(fresh, sf).count() > 0)
      val asof = SparkEntry.queries("q64_asof_native")(fresh, sf)
      assert(asof.count() > 0)
      assert(asof.queryExecution.executedPlan.toString.contains("AsofJoin"),
        "q64 must plan through the native asof operator")
    } finally graft.ops.Caches.releaseAll()
  }

  /** Repo-relative source files under src/main (walk up to build.sbt, so
    * the guard holds regardless of the runner's working directory).
    */
  private def mainSources: Seq[(String, String)] = {
    val root = Iterator.iterate(
        Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail("could not locate repo root (no build.sbt upward)"))
    val walk = Files.walk(root.resolve("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  test("source shape: one session builder, four install sites") {
    val srcs = mainSources
    assert(srcs.nonEmpty)
    def sitesOf(needle: String): Map[String, Int] =
      srcs.map { case (f, text) =>
        f -> (text.split(java.util.regex.Pattern.quote(needle), -1).length - 1)
      }.filter(_._2 > 0).toMap
    val builders = sitesOf("SparkSession.builder")
    assert(builders.keySet == Set("src/main/scala/graft/GraftSession.scala") &&
      builders.values.forall(_ == 1),
      s"SparkSession.builder outside GraftSession: $builders")
    val installs = sitesOf("GraftFunctions.register(")
    assert(installs == Map(
      "src/main/scala/graft/ops/Catalog.scala" -> 1,
      "src/main/scala/graft/ops/BloomJoin.scala" -> 1,
      "src/main/scala/graft/ops/AsofJoin.scala" -> 1,
      "src/main/scala/graft/lake/VersionedTable.scala" -> 1),
      s"GraftFunctions.register( call sites drifted: $installs")
  }
}
