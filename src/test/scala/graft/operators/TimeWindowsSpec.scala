package graft.operators

import graft.SpecBase
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class TimeWindowsSpec extends SpecBase {
  import spark.implicits._

  test("replay checkpoint: /dev/shm only in local mode; the default temp " +
    "checkpoint replays the same rows") {
    val shm = Paths.get("/dev/shm")
    val shmUsable = Files.isDirectory(shm) && Files.isWritable(shm)
    assert(TimeWindows.replayCheckpoint(isLocal = false, "x").isEmpty)
    assert(TimeWindows.replayCheckpoint(isLocal = true, "x").isDefined ==
      shmUsable)

    val dir = Files.createTempDirectory("graft_replay").resolve("in")
      .toString
    Seq(("2024-01-01 00:05:00", 1L), ("2024-01-01 00:10:00", 2L),
      ("2024-01-01 00:20:00", 1L), ("2024-01-01 03:00:00", 3L))
      .map { case (t, k) => (Timestamp.valueOf(t), k) }
      .toDF("ts", "k").write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // stateful: the dedup keeps per-key state in the checkpoint
    def stream() = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("k")
    var used = Option.empty[String]
    val viaShm = TimeWindows.runReplay(spark, stream(), "spec_replay_shm",
      (_, n) => { used = TimeWindows.replayCheckpoint(isLocal = true, n); used })
      .select("k").as[Long].collect().sorted
    val viaTemp = TimeWindows.runReplay(spark, stream(),
      "spec_replay_tmp", (_, _) => None)
      .select(col("k")).as[Long].collect().sorted
    assert(viaShm.toSeq == Seq(1L, 2L, 3L))
    assert(viaTemp.toSeq == viaShm.toSeq)
    assert(used.isDefined == shmUsable)
    // the throwaway checkpoint is removed after the run
    assert(used.forall(p => !Files.exists(Paths.get(p))))
  }
}
