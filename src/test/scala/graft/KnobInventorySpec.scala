package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.*` session keys are deployment facts only, and the
  * `SPARK_GRAFT_*` environment variables are paths, the core count, the
  * query subset, the A/B hook and the scale sweep. Main code may read
  * exactly these, and README's tables must list each, so a tuning value
  * cannot come back as a key or a variable unnoticed. */
class KnobInventorySpec extends AnyFunSuite {

  private val Survivors = Set(
    "spark.graft.kafka.bootstrap",
    "spark.graft.pubsub.transport",
    "spark.graft.ua.database",
    "spark.graft.memo.maxEntries")

  private val EnvSurvivors = Set(
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_OUT",
    "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_SCALE_FACTORS",
    "SPARK_GRAFT_SCALE_OPS")

  /** Every `"<literal>"` in main code matching `pattern`'s first group. */
  private def mainLiterals(pattern: String): Set[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new java.io.File(".").getAbsolutePath})")
    val lit = ("\"(" + pattern + ")\"").r
    java.nio.file.Files.walk(root.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
      .flatMap(p => lit.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1)))
      .toSet
  }

  private def assertReadmeRows(names: Set[String]): Unit = {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    names.foreach { k =>
      assert(readme.linesIterator.exists(_.startsWith(s"| `$k` |")), s"$k missing from README")
    }
  }

  test("main code reads exactly the four deployment keys") {
    assert(mainLiterals("spark\\.graft\\.[A-Za-z0-9_.]+") === Survivors)
  }

  test("README's knob table lists every surviving key") {
    assertReadmeRows(Survivors)
  }

  test("main code reads exactly the seven SPARK_GRAFT_ environment variables") {
    assert(mainLiterals("SPARK_GRAFT_[A-Z_0-9]+") === EnvSurvivors)
  }

  test("README's environment-variable table lists every surviving variable") {
    assertReadmeRows(EnvSurvivors)
  }
}
