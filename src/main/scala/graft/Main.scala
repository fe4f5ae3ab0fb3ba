package graft

import graft.operators.Cogify
import graft.pipeline.{EventJson, Runner}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CLI entrypoint: run reference-style pipeline event JSON through
  * the whole engine into a catalog directory.
  *
  * {{{
  * spark-submit --class graft.Main graft.jar <event.json|configDir> \
  *   <catalogDir> [quarantineDir]
  * sbt "runMain graft.Main <event.json|configDir> <catalogDir>"
  * }}}
  *
  * A DIRECTORY first argument runs every `*.json` event config inside
  * it (sorted by name) against the same catalog — the
  * one-spark-submit-per-config-drop deployment shape OPERATING.md
  * describes. [[run]] is the session-independent body, gated
  * end-to-end by MainSmokeSpec. */
object Main {

  /** Run every event in `configPath` (a file, or a directory of
    * `*.json` files) into `catalogDir`; quarantine rows append as
    * JSON under `quarantineDir`. A cogify event writes its COGs under
    * `{catalogDir}_cogs/{collection}/` and leaves its inputs as they
    * are. */
  def run(spark: SparkSession, configPath: String, catalogDir: String,
          quarantineDir: String): Unit = {
    val p = Paths.get(configPath)
    val configs: Seq[java.nio.file.Path] =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".json")).sortBy(_.toString)
        finally s.close()
      } else Seq(p)
    require(configs.nonEmpty, s"no event configs under $configPath")
    for (c <- configs; ev <- EventJson.parseAll(Files.readString(c))) {
      Runner.runToCatalog(spark, ev, catalogDir, quarantineDir,
        Runner.RunContext(cogifyTransform = new Cogify.RasterCogTransform(
          outDir = Some(catalogDir + "_cogs"))))
      println(s"[graft] ${ev.collection}: catalog=$catalogDir")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Main <event.json|configDir> <catalogDir> [quarantineDir]")
    val catalogDir = args(1)
    val quarantineDir =
      if (args.length > 2) args(2) else catalogDir + "_quarantine"
    val spark = GraftSession.builder().getOrCreate()
    try run(spark, args(0), catalogDir, quarantineDir)
    finally spark.stop()
  }
}
