package graft

import graft.dsl.DefaultMapping
import graft.sources.{BrowserSource, JsonSource}
import org.apache.spark.sql.functions._

/** Mapping development harness — the analog of the reference's standalone
  * `MappingTestServer` (`MappingTestServer.java:47-206`): feed one
  * pseudo-event through the full decode + mapping path and print the mapped
  * record as JSON. Proves the mapping layer is a pure DataFrame→DataFrame
  * seam, independent of any transport.
  *
  * Usage:
  *   runMain graft.MappingDevTool json <file-or-inline EventContainer JSON>
  *   runMain graft.MappingDevTool browser <raw query string>
  *
  * A payload starting with `@` is read from the named file (sbt's command
  * tokenizer mangles quoted inline JSON).
  */
object MappingDevTool {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val payload =
      if (args(1).startsWith("@"))
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(args(1).drop(1))), "UTF-8").trim
      else args.drop(1).mkString(" ")
    val spark = GraftSession.build(GraftSession.cpus, "graft-mapping-dev")
    import spark.implicits._
    if (mode == "encode") {
      // JSON -> mincode (the wire payload the browser tag would send as u=)
      println("[mapping-dev] " + graft.functions.Mincode.fromJson(payload))
      return
    }
    val decoded = mode match {
      case "json" =>
        JsonSource.decode(
          Seq(("0:1:dev-party", payload)).toDF("pid", "body"), "body", "pid")
      case "browser" =>
        BrowserSource.decode(Seq(payload).toDF("qs"), "qs")
      case other => sys.error(s"unknown mode '$other' (use json|browser)")
    }
    val mapped = DefaultMapping(decoded)
    println("[mapping-dev] " + mapped.select(to_json(struct(mapped.columns.map(col)
      .toIndexedSeq: _*))).as[String].collect().head)
    spark.stop()
  }
}
