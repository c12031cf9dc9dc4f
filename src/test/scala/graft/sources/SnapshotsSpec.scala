package graft.sources

import graft.SpecBase
import org.apache.spark.sql.functions._

import java.nio.file.Files

class SnapshotsSpec extends SpecBase {
  import spark.implicits._

  private def freshPath(): String =
    Files.createTempDirectory("graft_snap").resolve("t").toString

  /** Hadoop's LocalFileSystem keeps a `.crc` sidecar per file it
    * wrote; after a test hand-edits `_COMMITS` the stale checksum
    * would fail the next read, so drop the sidecar (a raw cluster
    * FS like HDFS re-checksums on write and never hits this). */
  private def rewriteCrcSidecar(log: java.nio.file.Path): Unit =
    Files.deleteIfExists(log.resolveSibling("." + log.getFileName + ".crc"))

  test("append assigns sequential ids and read unions committed snapshots") {
    val path = freshPath()
    assert(Snapshots.append(Seq(1, 2).toDF("x"), path) == 1L)
    assert(Snapshots.append(Seq(3).toDF("x"), path) == 2L)
    assert(Snapshots.append(Seq(4, 5).toDF("x"), path) == 3L)
    assert(Snapshots.committed(spark, path) == Seq(1L, 2L, 3L))
    assert(Snapshots.head(spark, path).contains(3L))
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2, 3, 4, 5)))
  }

  test("asOf time travel sees exactly the state at that commit") {
    val path = freshPath()
    Snapshots.append(Seq(10).toDF("x"), path)
    Snapshots.append(Seq(20).toDF("x"), path)
    Snapshots.append(Seq(30).toDF("x"), path)
    assert(Snapshots.read(spark, path, Some(1L)).as[Int].collect()
      .sameElements(Array(10)))
    assert(Snapshots.read(spark, path, Some(2L)).as[Int].collect().sorted
      .sameElements(Array(10, 20)))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, path, Some(9L))
    }
  }

  test("a staged-but-uncommitted snapshot directory is invisible to readers") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    // simulate a torn write: data directory present, no commit
    Seq(99).toDF("x").write.parquet(s"$path/snap=2")
    assert(Snapshots.committed(spark, path) == Seq(1L))
    assert(Snapshots.read(spark, path).as[Int].collect()
      .sameElements(Array(1)))
    // the next committed append must NOT reuse or surface the orphan:
    // it allocates id 2 and overwrites the torn directory
    assert(Snapshots.append(Seq(2).toDF("x"), path) == 2L)
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2)))
  }

  test("the writer lock rejects a concurrent appender and is released after") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    // hold the lock by hand, as a concurrent writer would
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path, "_LOCK"), false).close()
    intercept[IllegalStateException] {
      Snapshots.append(Seq(2).toDF("x"), path)
    }
    fs.delete(new org.apache.hadoop.fs.Path(path, "_LOCK"), false)
    // and a failed append must not have burned an id or dirtied state
    assert(Snapshots.append(Seq(2).toDF("x"), path) == 2L)
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2)))
  }

  test("compact folds history into one base dir; asOf below it still works") {
    val path = freshPath()
    Snapshots.append(Seq(1, 2).toDF("x"), path)
    Snapshots.append(Seq(3).toDF("x"), path)
    val baseId = Snapshots.compact(spark, path)
    assert(baseId == 3L)
    Snapshots.append(Seq(4).toDF("x"), path)
    // head = base + post-base appends, same rows as before compaction
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2, 3, 4)))
    // head read scans ONLY snap=3 (base) and snap=4
    val files = Snapshots.read(spark, path).inputFiles
    assert(files.exists(_.contains("snap=3")) &&
      files.exists(_.contains("snap=4")))
    assert(!files.exists(f => f.contains("snap=1") || f.contains("snap=2")),
      s"head read must not touch pre-base directories:\n${files.mkString("\n")}")
    // time travel below the base ignores it and unions the originals
    assert(Snapshots.read(spark, path, Some(2L)).as[Int].collect().sorted
      .sameElements(Array(1, 2, 3)))
  }

  test("vacuum expires pre-base history; un-based tables are untouched") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    Snapshots.append(Seq(2).toDF("x"), path)
    // no base yet → nothing is safe to delete
    assert(Snapshots.vacuum(spark, path).isEmpty)
    Snapshots.compact(spark, path) // id 3, base
    Snapshots.append(Seq(4).toDF("x"), path)
    assert(Snapshots.vacuum(spark, path) == Seq(1L, 2L))
    // head unaffected; log + directories for 1,2 are gone
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2, 4)))
    assert(Snapshots.committed(spark, path) == Seq(3L, 4L))
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(path, "snap=1")))
    // expired history now fails loudly instead of returning stale rows
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, path, Some(2L))
    }
  }

  test("historical reads scan only the directories that existed then") {
    val path = freshPath()
    Snapshots.append(spark.range(100).select(col("id").as("x")), path)
    Snapshots.append(spark.range(100, 200).select(col("id").as("x")), path)
    val scanned = Snapshots.read(spark, path, Some(1L)).inputFiles
    assert(scanned.nonEmpty && scanned.forall(_.contains("snap=1")),
      s"time travel must prune at the directory level:\n${scanned.mkString("\n")}")
  }

  test("readDelta sees exactly the appends in range, scans only them") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    Snapshots.append(Seq(2, 3).toDF("x"), path)
    Snapshots.append(Seq(4).toDF("x"), path)
    assert(Snapshots.readDelta(spark, path, 1L, 3L).as[Int].collect()
      .sorted.sameElements(Array(2, 3, 4)))
    val scanned = Snapshots.readDelta(spark, path, 2L, 3L).inputFiles
    assert(scanned.nonEmpty && scanned.forall(_.contains("snap=3")),
      s"delta read must scan only the increment:\n${scanned.mkString("\n")}")
    // since-creation form
    assert(Snapshots.readDelta(spark, path, 0L, 1L).as[Int].collect()
      .sameElements(Array(1)))
    intercept[IllegalArgumentException] { // never-committed bound
      Snapshots.readDelta(spark, path, 1L, 9L)
    }
  }

  test("readDelta refuses a range that crosses a compaction base") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    Snapshots.append(Seq(2).toDF("x"), path)
    val base = Snapshots.compact(spark, path) // id 3, rewrites history
    Snapshots.append(Seq(4).toDF("x"), path)
    val e = intercept[IllegalArgumentException] {
      Snapshots.readDelta(spark, path, 1L, 4L)
    }
    assert(e.getMessage.contains(s"base $base"))
    // strictly after the base is fine — that's genuine appended delta
    assert(Snapshots.readDelta(spark, path, base, 4L).as[Int].collect()
      .sameElements(Array(4)))
  }

  test("merge-on-read: upserts replace, deletes tombstone, asOf travels") {
    val path = freshPath()
    Snapshots.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      path)
    Snapshots.upsert(Seq((2L, "B"), (4L, "d")).toDF("k", "v"), path)
    val delId = Snapshots.delete(Seq(Tuple1(1L)).toDF("k"), path)
    // head: 1 deleted, 2 replaced, 3 untouched, 4 inserted
    val head = Snapshots.readMerged(spark, path, "k")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(head.toSeq == Seq((2L, "B"), (3L, "c"), (4L, "d")))
    assert(Snapshots.readMerged(spark, path, "k").columns.toSeq ==
      Seq("k", "v"), "merge internals must not leak into the schema")
    // asOf before the delete still sees key 1 with its latest value
    val atTwo = Snapshots.readMerged(spark, path, "k", Some(delId - 1))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(atTwo.toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    // re-inserting a deleted key resurrects it (newest version wins)
    Snapshots.upsert(Seq((1L, "A2")).toDF("k", "v"), path)
    assert(Snapshots.readMerged(spark, path, "k")
      .filter(col("k") === 1L).as[(Long, String)].head() == (1L, "A2"))
  }

  test("compactMerged folds upserts+tombstones into a live-rows base") {
    val path = freshPath()
    Snapshots.upsert(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "x"),
      path)
    Snapshots.upsert(Seq((2L, 21.0)).toDF("k", "x"), path)
    Snapshots.delete(Seq(Tuple1(3L)).toDF("k"), path)
    val base = Snapshots.compactMerged(spark, path, "k")
    assert(Snapshots.vacuum(spark, path).size == 3)
    // one directory, live rows only, no tombstone column on disk
    val files = Snapshots.readMerged(spark, path, "k").inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"snap=$base")))
    assert(Snapshots.readMerged(spark, path, "k")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10.0), (2L, 21.0)))
    // merges keep working on top of the base
    Snapshots.delete(Seq(Tuple1(1L)).toDF("k"), path)
    assert(Snapshots.readMerged(spark, path, "k")
      .as[(Long, Double)].collect().toSeq == Seq((2L, 21.0)))
  }

  test("compaction lifecycle: repeated compact+vacuum generations") {
    val path = freshPath()
    val f = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def dirs(): Set[String] =
      f.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).filter(_.startsWith("snap=")).toSet

    // generation 1: appends 1,2 → base 3 → vacuum
    Snapshots.append(Seq(1).toDF("x"), path)
    Snapshots.append(Seq(2).toDF("x"), path)
    val base1 = Snapshots.compact(spark, path)
    assert(Snapshots.vacuum(spark, path) == Seq(1L, 2L))
    assert(dirs() == Set(s"snap=$base1"), s"got ${dirs()}")
    // asOf AT the base works after vacuum; below it refuses loudly
    assert(Snapshots.read(spark, path, Some(base1)).as[Int].collect()
      .sorted.sameElements(Array(1, 2)))
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, path, Some(1L))
    }

    // generation 2: more appends → second base → vacuum again
    Snapshots.append(Seq(3).toDF("x"), path)
    Snapshots.append(Seq(4).toDF("x"), path)
    val base2 = Snapshots.compact(spark, path)
    assert(Snapshots.vacuum(spark, path) ==
      Seq(base1, base1 + 1, base1 + 2))
    assert(dirs() == Set(s"snap=$base2"))
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2, 3, 4)))
    // a second vacuum with nothing before the base is a no-op
    assert(Snapshots.vacuum(spark, path).isEmpty)
    assert(Snapshots.committed(spark, path) == Seq(base2))

    // life goes on: appends and delta reads after the vacuumed base
    Snapshots.append(Seq(5).toDF("x"), path)
    assert(Snapshots.readDelta(spark, path, base2, base2 + 1)
      .as[Int].collect().sameElements(Array(5)))
    assert(Snapshots.read(spark, path).as[Int].collect().sorted
      .sameElements(Array(1, 2, 3, 4, 5)))
  }

  test("zone-map stats prune whole snapshot dirs; stats survive the log") {
    val path = freshPath()
    // three ranged appends, one stats column
    Snapshots.append(Seq((1, "a"), (5, "b")).toDF("x", "s"), path,
      statsCols = Seq("x"))
    Snapshots.append(Seq((10, "c"), (15, "d")).toDF("x", "s"), path,
      statsCols = Seq("x"))
    Snapshots.append(Seq((20, "e")).toDF("x", "s"), path,
      statsCols = Seq("x"))
    // stats round-trip through the log text
    val st = Snapshots.entries(spark, path).map(_.stats)
    assert(st == Seq(Map("x" -> (1.0, 5.0)), Map("x" -> (10.0, 15.0)),
      Map("x" -> (20.0, 20.0))))
    // range [8, 16] must scan ONLY snap=2 — metadata pruning
    val pruned = Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 8.0, 16.0))
    assert(pruned.inputFiles.forall(_.contains("snap=2")))
    assert(pruned.filter(col("x").between(8, 16)).as[(Int, String)]
      .collect().toSet == Set((10, "c"), (15, "d")))
    // pruned ∘ filter ≡ read ∘ filter (the advisory contract)
    assert(Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 0.0, 100.0))
      .as[(Int, String)].collect().toSet ==
      Snapshots.read(spark, path).as[(Int, String)].collect().toSet)
    // a range matching nothing yields an empty frame, same schema
    val none = Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 100.0, 200.0))
    assert(none.columns.toSeq == Seq("x", "s") && none.count() == 0)
  }

  test("a read whose every directory is pruned is empty with the head schema") {
    val path = freshPath()
    assert(!Snapshots.isTable(spark, path))
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    // the head snapshot adds a column: the empty frame must carry it
    Snapshots.append(Seq((3L, "c", 0.5)).toDF("k", "v", "w"), path,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    assert(Snapshots.isTable(spark, path))
    val head = Seq("k", "v", "w")
    val byKey = Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 424242L))
    assert(byKey.columns.toSeq == head && byKey.count() == 0)
    val byIn = Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(7.0, 8.0)))
    assert(byIn.columns.toSeq == head && byIn.count() == 0)
    intercept[IllegalArgumentException](Snapshots.mayHoldIn("k", Nil))
  }

  test("zone-map stats on a timestamp column prune in epoch seconds") {
    val path = freshPath()
    import java.sql.Timestamp
    // two one-hour batches a day apart; stats cast ts -> epoch seconds
    Snapshots.append(Seq(
      (1, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2, Timestamp.valueOf("2024-01-01 01:00:00"))).toDF("k", "ts"), path,
      statsCols = Seq("ts"))
    Snapshots.append(Seq(
      (3, Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("k", "ts"), path,
      statsCols = Seq("ts"))
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00").getTime / 1000.0
    val p = Snapshots.read(spark, path,
      keep = Snapshots.overlaps("ts", day2, day2 + 3600))
    assert(p.inputFiles.forall(_.contains("snap=2")))
    assert(p.filter(col("ts").cast("double") >= day2)
      .select("k").as[Int].collect().sameElements(Array(3)))
  }

  test("pruning stays conservative without stats and across compaction") {
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path) // no stats recorded
    Snapshots.append(Seq(50).toDF("x"), path, statsCols = Seq("x"))
    // stats-less dir is always kept; the out-of-range stats dir drops
    val p = Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 0.0, 10.0))
    assert(p.inputFiles.forall(_.contains("snap=1")))
    assert(p.as[Int].collect().sameElements(Array(1)))
    // compact recomputes the zone map over the tracked column union
    Snapshots.compact(spark, path)
    val base = Snapshots.entries(spark, path).last
    assert(base.isBase && base.stats == Map("x" -> (1.0, 50.0)))
    // the base's [1,50] intersects [0,10] → kept; the advisory
    // contract means the caller's own filter still applies
    assert(Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 0.0, 10.0))
      .filter(col("x").between(0, 10))
      .as[Int].collect().sameElements(Array(1)))
    // a post-compact ranged append prunes against the base's stats
    Snapshots.append(Seq(99).toDF("x"), path, statsCols = Seq("x"))
    val hi = Snapshots.read(spark, path,
      keep = Snapshots.overlaps("x", 90.0, 100.0))
    assert(hi.inputFiles.forall(_.contains(s"snap=${base.id + 1}")))
    assert(hi.as[Int].collect().sameElements(Array(99)))
  }

  test("bloom filters prune point lookups; no false negatives ever") {
    val path = freshPath()
    // three appends with DISJOINT key sets but IDENTICAL key ranges —
    // the zone map is useless here by construction; only membership
    // can tell the directories apart
    Snapshots.append(Seq((1L, "a1"), (1000L, "a2"), (7L, "a3"))
      .toDF("k", "s"), path, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(Seq((1L + 1, "b1"), (1000L, "b2"), (13L, "b3"))
      .toDF("k", "s"), path, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(Seq((3L, "c1"), (1000L, "c2"), (999L, "c3"))
      .toDF("k", "s"), path, statsCols = Seq("k"), bloomCols = Seq("k"))
    val es = Snapshots.entries(spark, path)
    // blooms round-trip through the log text with their geometry
    assert(es.forall(e => e.blooms.get("k").exists(b =>
      b.m == Snapshots.BloomBits && b.k == Snapshots.BloomHashes)))
    // no false negatives: every written key is "might contain" in its dir
    assert(es(0).blooms("k").mightContain("1"))
    assert(es(0).blooms("k").mightContain("1000"))
    assert(es(1).blooms("k").mightContain("2"))
    assert(es(2).blooms("k").mightContain("999"))
    // key 7 lives only in snap=1: the other dirs must prove absence
    // (deterministic bloom bits — pinned, not probabilistic luck)
    val p7 = Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 7L))
    assert(p7.inputFiles.nonEmpty &&
      p7.inputFiles.forall(_.contains("snap=1")),
      s"expected only snap=1:\n${p7.inputFiles.mkString("\n")}")
    // key 1000 is everywhere: nothing may be pruned
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 1000L))
      .inputFiles.map(f => f.split("/snap=")(1).takeWhile(_ != '/'))
      .toSet == Set("1", "2", "3"))
    // prunedKey ∘ filter ≡ read ∘ filter for present AND absent keys
    for (key <- Seq(1L, 2L, 3L, 7L, 13L, 999L, 1000L, 424242L))
      assert(Snapshots.read(spark, path,
        keep = Snapshots.mayContainKey("k", key))
        .filter(col("k") === key).as[(Long, String)].collect().toSet ==
        Snapshots.read(spark, path)
          .filter(col("k") === key).as[(Long, String)].collect().toSet,
        s"equivalence broken for key $key")
    // a bloom-less dir is always kept (conservative)
    Snapshots.append(Seq((555L, "d1")).toDF("k", "s"), path)
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 7L))
      .inputFiles.exists(_.contains("snap=4")))
    // compact folds blooms: the base answers membership for all keys
    Snapshots.compact(spark, path)
    val base = Snapshots.entries(spark, path).last
    assert(base.isBase && base.blooms.contains("k"))
    for (key <- Seq(1L, 7L, 555L, 1000L))
      assert(base.blooms("k").mightContain(key.toString))
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 7L))
      .filter(col("k") === 7L).as[(Long, String)].collect()
      .toSet == Set((7L, "a3")))
  }

  test("readPrunedEq intersects the zone and bloom channels") {
    val path = freshPath()
    // snap=1: range [1,10], keys {1,10}; snap=2: range [5,20], keys {5,20}
    Snapshots.append(Seq((1L, "a"), (10L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(Seq((5L, "c"), (20L, "d")).toDF("k", "v"), path,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    // 7 ∈ both ranges but neither key set → everything pruned
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(7.0))).count() == 0)
    // 10 ∈ both ranges, only snap=1's key set
    val r10 = Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(10.0)))
    assert(r10.inputFiles.forall(_.contains("snap=1")))
    // 20: zone map alone excludes snap=1, bloom alone excludes nothing more
    val r20 = Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(20.0)))
    assert(r20.inputFiles.forall(_.contains("snap=2")))
    assert(r20.filter(col("k") === 20L).as[(Long, String)]
      .collect().sameElements(Array((20L, "d"))))
    // integral double probes match the long column's canonical form
    // (the QL layer always hands doubles down)
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(5.0)))
      .filter(col("k") === 5L).count() == 1)
  }

  test("bloom pruning works for string keys with the same canonical form") {
    val path = freshPath()
    Snapshots.append(Seq(("alpha", 1), ("beta", 2)).toDF("name", "v"),
      path, bloomCols = Seq("name"))
    Snapshots.append(Seq(("gamma", 3)).toDF("name", "v"),
      path, bloomCols = Seq("name"))
    val p = Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("name", "gamma"))
    assert(p.inputFiles.nonEmpty && p.inputFiles.forall(_.contains("snap=2")))
    assert(p.filter(col("name") === "gamma").as[(String, Int)]
      .collect().sameElements(Array(("gamma", 3))))
  }

  test("bloom equality pruning is type-gated: decimal/double/huge keys never lose rows") {
    // DECIMAL column: Spark's string cast records "7.00", which no
    // double-derived canonical reproduces — the bloom channel must
    // refuse to prune (tag "o"), leaving the zone map as the only
    // (sound) pruning channel
    val decPath = freshPath()
    Snapshots.append(
      Seq(1L, 7L, 10L).toDF("k").select(col("k").cast("decimal(10,2)").as("k")),
      decPath, statsCols = Seq("k"), bloomCols = Seq("k"))
    Snapshots.append(
      Seq(50L, 60L).toDF("k").select(col("k").cast("decimal(10,2)").as("k")),
      decPath, statsCols = Seq("k"), bloomCols = Seq("k"))
    assert(Snapshots.entries(spark, decPath)
      .forall(_.blooms("k").tag.contains("o")))
    val d7 = Snapshots.read(spark, decPath,
      keep = Snapshots.mayHoldIn("k", Seq(7.0)))
    assert(d7.inputFiles.exists(_.contains("snap=1")),
      "decimal-key directory wrongly bloom-pruned")
    assert(d7.filter(col("k") === 7).count() == 1)
    // the zone channel still prunes snap=2 (range [50,60] excludes 7)
    assert(d7.inputFiles.forall(_.contains("snap=1")))

    // DOUBLE column: same refusal (canonical "7.0" vs probe forms is
    // exactly the ambiguity the tag removes)
    val dblPath = freshPath()
    Snapshots.append(Seq(7.0, 9.5).toDF("k"), dblPath, bloomCols = Seq("k"))
    assert(Snapshots.read(spark, dblPath,
      keep = Snapshots.mayHoldIn("k", Seq(7.0)))
      .filter(col("k") === 7.0).count() == 1)

    // integral column beyond double's exact range: probe must keep
    val bigPath = freshPath()
    val big = 9007199254740993L // 2^53 + 1: not representable as double
    Snapshots.append(Seq(big, 5L).toDF("k"), bigPath, bloomCols = Seq("k"))
    assert(Snapshots.entries(spark, bigPath)
      .forall(_.blooms("k").tag.contains("i")))
    assert(Snapshots.read(spark, bigPath,
      keep = Snapshots.mayHoldIn("k", Seq(big.toDouble)))
      .filter(col("k") === big).count() == 1)
    // …while an in-range integral probe still prunes through the bloom
    assert(Snapshots.read(spark, bigPath,
      keep = Snapshots.mayHoldIn("k", Seq(5.0)))
      .filter(col("k") === 5L).count() == 1)

    // mayContainKey: a probe whose runtime class mismatches the tag
    // (Double against an integral column) keeps every directory
    val kp = Snapshots.read(spark, bigPath,
      keep = Snapshots.mayContainKey("k", 5.0))
    assert(kp.inputFiles.nonEmpty)
    assert(kp.filter(col("k") === 5L).count() == 1)
  }

  test("corrupt S:/F: log fields degrade to no-pruning, never to failure") {
    val path = freshPath()
    Snapshots.append(Seq((1L, "a"), (7L, "b")).toDF("k", "v"), path,
      statsCols = Seq("k"), bloomCols = Seq("k"))
    // hand-corrupt the metadata fields the way a partial edit would:
    // unparseable numerics in S: and F:, plus an unknown trailing tag
    val log = java.nio.file.Paths.get(path, "_COMMITS")
    val line = new String(Files.readAllBytes(log), "UTF-8").trim
    val corrupted = line.replaceAll("S:k:\\S+", "S:k:low:high")
      .replaceAll("F:k:\\S+", "F:k:notanum:4:beef") + " Z:future\n"
    Files.write(log, corrupted.getBytes("UTF-8"))
    rewriteCrcSidecar(log)
    val es = Snapshots.entries(spark, path)
    assert(es.size == 1 && es.head.id == 1L)
    assert(es.head.stats.isEmpty, "unparseable zone bounds must drop")
    assert(es.head.blooms.isEmpty, "unparseable bloom geometry must drop")
    // reads and (now unprunable) pruned reads still return every row
    assert(Snapshots.read(spark, path).count() == 2)
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(7.0)))
      .filter(col("k") === 7L).count() == 1)
  }

  test("an out-of-range bloom k degrades to conservative keep, not a crash") {
    // review r20: k=9 indexes past the 16-byte md5 digest — it used to
    // pass the geometry guard and crash EVERY bloom-pruned read
    val path = freshPath()
    Snapshots.append(Seq((1L, "a"), (7L, "b")).toDF("k", "v"), path,
      bloomCols = Seq("k"))
    val log = java.nio.file.Paths.get(path, "_COMMITS")
    val line = new String(Files.readAllBytes(log), "UTF-8").trim
    val corrupted = line.replaceAll("F:k:(\\d+):\\d+:", "F:k:$1:9:") + "\n"
    assert(corrupted != line + "\n", "fixture must actually rewrite k")
    Files.write(log, corrupted.getBytes("UTF-8"))
    rewriteCrcSidecar(log)
    val es = Snapshots.entries(spark, path)
    assert(es.head.blooms.isEmpty, "k=9 bloom must drop, conservatively")
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(7.0)))
      .filter(col("k") === 7L).count() == 1)
  }

  test("commits preserve unknown fields of carried-over log entries") {
    // review r20: the parse-then-rewrite cycle used to erase any field
    // a newer writer recorded — 'ignored by old readers' must also
    // mean 'survives old writers'
    val path = freshPath()
    Snapshots.append(Seq(1).toDF("x"), path)
    val log = java.nio.file.Paths.get(path, "_COMMITS")
    val line = new String(Files.readAllBytes(log), "UTF-8").trim
    Files.write(log, (line + " X:futurefield\n").getBytes("UTF-8"))
    rewriteCrcSidecar(log)
    Snapshots.append(Seq(2).toDF("x"), path) // old-format writer
    val after = new String(Files.readAllBytes(log), "UTF-8")
    assert(after.linesIterator.next().endsWith(" X:futurefield"),
      s"unknown field erased by the rewrite:\n$after")
    assert(Snapshots.read(spark, path).count() == 2)
  }

  test("deleteOptimistic commutes with an interleaved compaction; " +
    "vacuumed history aborts honestly") {
    val path = freshPath()
    Snapshots.upsert(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v"), path)                       // snap 1 (basedOn)
    Snapshots.upsert(Seq((4L, "d")).toDF("k", "v"), path) // snap 2
    Snapshots.compact(spark, path)                 // snap 3 = BASE
    // the base contains k=2 (every live row does) — that must NOT
    // read as a write-write conflict (review r20); the only real
    // writes after snap 1 touched k=4
    val oc = Snapshots.deleteOptimistic(
      Seq(2L).toDF("k"), path, "k", basedOn = 1L)
    assert(oc.id == 4L)
    assert(Snapshots.readMerged(spark, path, "k")
      .select("k").as[Long].collect().sorted.sameElements(
        Array(1L, 3L, 4L)))
    // a REAL conflict through the same window still aborts: snap 5
    // re-upserts k=3, then a delete of k=3 based on snap 4
    Snapshots.upsert(Seq((3L, "c2")).toDF("k", "v"), path) // snap 5
    intercept[Snapshots.ConflictException] {
      Snapshots.deleteOptimistic(Seq(3L).toDF("k"), path, "k",
        basedOn = 4L)
    }
    // vacuum drops pre-base history: a delete based below the base
    // can no longer be validated — honest abort, not silent commit
    Snapshots.compact(spark, path)                 // snap 6 = BASE
    Snapshots.vacuum(spark, path)
    val e = intercept[IllegalArgumentException] {
      Snapshots.deleteOptimistic(Seq(1L).toDF("k"), path, "k",
        basedOn = 5L)
    }
    assert(e.getMessage.contains("never committed"), e.getMessage)
  }

  test("compactMerged recomputes blooms like compact (keyed point " +
    "lookups keep pruning after keyed compaction)") {
    val path = freshPath()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path,
      bloomCols = Seq("k"))
    Snapshots.append(Seq((2L, "b2")).toDF("k", "v"), path,
      bloomCols = Seq("k"))
    Snapshots.compactMerged(spark, path, "k")
    val base = Snapshots.entries(spark, path).last
    assert(base.isBase && base.blooms.contains("k"),
      s"keyed compaction dropped the bloom channel: $base")
    assert(Snapshots.readMerged(spark, path, "k").count() == 2)
  }

  test("legacy untagged bloom log lines parse and stay conservative in QL routing") {
    val path = freshPath()
    Snapshots.append(Seq(5L, 9L).toDF("k"), path, bloomCols = Seq("k"))
    // rewrite the tagged F: field to the legacy 4-part form
    val log = java.nio.file.Paths.get(path, "_COMMITS")
    val line = new String(Files.readAllBytes(log), "UTF-8").trim
    assert(line.contains(":i:"), "writer should tag integral blooms")
    val legacy = line.replaceFirst("F:k:(\\d+):(\\d+):i:", "F:k:$1:$2:") + "\n"
    Files.write(log, legacy.getBytes("UTF-8"))
    rewriteCrcSidecar(log)
    val e = Snapshots.entries(spark, path).head
    assert(e.blooms.get("k").exists(_.tag.isEmpty))
    // legacy blooms still serve mayContainKey's documented contract…
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayContainKey("k", 5L))
      .filter(col("k") === 5L).count() == 1)
    // …but the double-probing QL path refuses to prune through them
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(5.0)))
      .filter(col("k") === 5L).count() == 1)
    assert(Snapshots.read(spark, path,
      keep = Snapshots.mayHoldIn("k", Seq(5.0)))
      .inputFiles.nonEmpty)
  }
}
