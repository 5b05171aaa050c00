package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.*` session keys are deployment facts only. Main code
  * may read exactly these four, and README's knob table must list each,
  * so a tuning value cannot come back as a key unnoticed. */
class KnobInventorySpec extends AnyFunSuite {

  private val Survivors = Set(
    "spark.graft.kafka.bootstrap",
    "spark.graft.pubsub.transport",
    "spark.graft.ua.database",
    "spark.graft.memo.maxEntries")

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r

  test("main code reads exactly the four deployment keys") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (cwd ${new java.io.File(".").getAbsolutePath})")
    val files = java.nio.file.Files.walk(root.toPath).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    val keys = files.flatMap { p =>
      KeyLiteral.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1))
    }.toSet
    assert(keys === Survivors)
  }

  test("README's knob table lists every surviving key") {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    Survivors.foreach { k =>
      assert(readme.linesIterator.exists(_.startsWith(s"| `$k` |")), s"$k missing from README")
    }
  }
}
