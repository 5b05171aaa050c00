package graft

import java.nio.file.{Files, Paths}

/** Write the plans of named queries to files — the .explain review loop and
  * the optimization-round evidence trail (`plans/r12/<query>_<tag>.txt`);
  * plan-shape assertions live in PlanSpec.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> <query regex>`
  * One file per matching query: `<outDir>/<name>_<tag>.txt`. Each file
  * holds the initial `.explain("formatted")` plan, captured WITHOUT
  * executing (deterministic and diffable round-over-round), followed by
  * the AQE-final plan after one execution — the one that matters for
  * join-strategy questions. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, pattern) = args.take(4)
    val re = pattern.r
    val spark = GraftSession.build(GraftSession.cpus, "graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => re.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        val out = Paths.get(s"$outDir/${name}_$tag.txt")
        try {
          val qe = fn(spark, sfDir).queryExecution
          Files.writeString(out,
            qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          qe.toRdd.count()
          Files.writeString(out, s"\n== AQE-final plan ==\n${qe.executedPlan}\n",
            java.nio.file.StandardOpenOption.APPEND)
          System.err.println(s"[plandump] wrote $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
