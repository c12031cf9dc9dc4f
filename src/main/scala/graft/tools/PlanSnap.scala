package graft.tools

import graft.Registry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: write `explain("formatted")` of the named queries to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan artifacts an
  * optimization round commits (the judge reads these instead of
  * running Spark).
  *
  * Usage: PlanSnap <outDir> <tag> <query...>
  *
  * Exits non-zero when a name matches no registered query or a query
  * throws, so a missing plan can never pass for evidence.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSet
    val unknown = names -- Registry.specs.map(_.name)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val failed = Registry.specs.sortBy(_.name)
      .filter(q => names.contains(q.name)).flatMap { q =>
      try {
        val df = q.fn(spark, dir)
        // run it so AQE finalizes; the formatted explain then reflects
        // the executed shape (join strategies, AQEShuffleRead)
        df.queryExecution.toRdd
          .foreachPartition(it => while (it.hasNext) { it.next(); () })
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
        Files.writeString(outDir.resolve(s"${q.name}_$tag.txt"), txt)
        println(s"wrote ${q.name}_$tag.txt")
        None
      } catch {
        case NonFatal(e) =>
          println(s"FAILED ${q.name}: ${e.getMessage}")
          Some(q.name)
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
