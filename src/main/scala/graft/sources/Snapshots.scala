package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Snapshot / MVCC-lite table layout — the reference's transaction
  * model (SURVEY.md §1.1 "Snapshots / transactions", ref
  * `lsd/table.py` + `lsd/locking.py`, UNVERIFIED): every append
  * writes a NEW time-ordered snapshot directory; readers see the last
  * committed snapshot; single-writer, multi-reader.
  *
  * Spark-native commit protocol (no external metastore):
  *
  *   path/
  *     snap=1/…parquet     immutable once committed
  *     snap=2/…parquet
  *     _COMMITS            append-only id log; LAST line = head
  *
  * This object is the only code that knows that layout: other modules
  * ask [[isTable]] and [[dir]] instead of spelling the file names.
  *
  * - A writer stages `snap=N` fully, then commits by REWRITING
  *   `_COMMITS` via temp-file + atomic rename. A torn write leaves a
  *   `snap=` directory that no reader ever lists (readers trust only
  *   the log), so a killed job can never surface partial data — the
  *   same reader-trusts-log discipline as Delta/Iceberg, reduced to
  *   the reference's single-writer contract.
  * - Each [[read]] resolves the log once (a single tiny file read on
  *   the driver), then scans exactly the committed directories its
  *   `keep` predicate admits. An LsdQL read of a snapshot table with
  *   a WHERE clause reads the log twice: once to learn which columns
  *   carry pruning metadata (`LsdDb.prunableCols`), then once in the
  *   read. Time travel (`asOf`) is directory selection, not data
  *   filtering, so a historical read touches only the bytes that
  *   existed then.
  * - Single-writer is enforced with an atomic `_LOCK` create (local
  *   FS / HDFS atomic-create semantics; object stores need an
  *   external lock service — documented limitation, same as the
  *   reference's flock-based locking).
  * - MULTI-writer is available through the optimistic API
  *   ([[appendOptimistic]]/[[deleteOptimistic]]): heavy data writes
  *   stage unlocked into `_staging/`, commits serialize through a
  *   briefly-held retried lock, appends always commute, and stale
  *   overlapping deletes abort loudly ([[ConflictException]]) —
  *   see the "optimistic concurrency" section below.
  *
  * Scale: snapshots are the unit of append, not of parallelism — each
  * `snap=N` holds an arbitrary number of part files written by a full
  * distributed job, and a read of k snapshots is a k-way file-source
  * union that Spark list-parallelizes. Nothing here is driver-bound
  * except the one log read/write.
  */
object Snapshots {
  private val CommitLog = "_COMMITS"
  private val Lock = "_LOCK"
  private val OcStats = "_OC_STATS"
  private val Staging = "_staging"

  /** A concurrent-commit conflict the protocol cannot serialize:
    * another writer tombstoned keys this delete also tombstones,
    * AFTER the snapshot this delete's decision was based on — the
    * write-write conflict snapshot isolation aborts loudly rather
    * than silently last-writer-wins through stale reads. */
  final class ConflictException(msg: String)
      extends RuntimeException(msg)

  /** Outcome of an optimistic commit: the committed snapshot id plus
    * how many lock-acquisition retries the writer ate (the contention
    * signal [[ocStats]] accumulates table-wide). */
  final case class OptimisticCommit(id: Long, retries: Int)

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** The data directory of committed (or staged) snapshot `id`. */
  def dir(path: String, id: Long): String = s"$path/snap=$id"

  /** Whether `path` is a snapshot table (it has a commit log). */
  def isTable(spark: SparkSession, path: String): Boolean =
    isTable(fs(spark, path), new Path(path))

  /** [[isTable]] for callers that hold a FileSystem, not a session. */
  def isTable(f: FileSystem, path: Path): Boolean =
    f.exists(new Path(path, CommitLog))

  /** One committed entry: snapshot id + whether it is a BASE snapshot
    * (a compaction product that already contains everything before
    * it, so reads never need to look further back) + an optional
    * idempotency tag (see [[append]]'s `tag`) + optional per-column
    * zone-map stats (see [[overlaps]]) + optional per-column Bloom
    * filters (see [[mayContainKey]]). Log line format:
    * `<id>` for an append, `<id> B` for a base, with ` T:<tag>`
    * appended when tagged, ` S:<col>:<min>:<max>` per stats column,
    * and ` F:<col>:<m>:<k>:<hex>` per bloom column — unknown
    * trailing fields are ignored by old readers.
    *
    * `raw` is the exact log line the entry was parsed from: commits
    * re-emit it VERBATIM for carried-over entries, so fields a newer
    * writer recorded (and this parser ignores) survive an old
    * writer's append instead of being erased by the lossy
    * parse-then-rewrite cycle (review r20) — that is what makes the
    * "ignored by old readers" claim honest for old WRITERS too. */
  final case class Entry(id: Long, isBase: Boolean,
                         tag: Option[String] = None,
                         stats: Map[String, (Double, Double)] = Map.empty,
                         blooms: Map[String, Bloom] = Map.empty,
                         raw: Option[String] = None)

  /** A serialized Bloom filter over one column's value set: `m` bits
    * (hex-encoded, big-endian within each byte), `k` hash slices of
    * the value's md5. No false negatives by construction; false
    * positives only cost an extra directory scan.
    *
    * `tag` records the COLUMN TYPE CLASS the write side canonicalized
    * through (`"i"` integral, `"s"` string, `"o"` anything else —
    * decimal, float/double, date, …), so the read side only probes
    * when it can reproduce the exact canonical string the writer
    * hashed. Untagged (`None`) blooms come from pre-tag commit logs:
    * the query layer treats them as unprunable (conservative), while
    * [[mayContainKey]] keeps its original documented caller contract
    * for them. */
  final case class Bloom(m: Int, k: Int, hex: String,
                         tag: Option[String] = None) {
    private lazy val bytes: Array[Byte] =
      hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def mightContain(value: String): Boolean =
      Snapshots.bloomPositions(value, m, k).forall { p =>
        (bytes(p >> 3) & (0x80 >> (p & 7))) != 0
      }
  }

  /** The k bit positions of a value: consecutive 2-byte slices of
    * md5(UTF-8 bytes), big-endian, mod m. The WRITE side computes the
    * identical positions in Spark SQL (`conv(substring(md5(...)))`),
    * so membership tests never disagree with the recorded bits. */
  private[sources] def bloomPositions(v: String, m: Int, k: Int): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    (0 until k).map { i =>
      (((md(2 * i) & 0xff) << 8) | (md(2 * i + 1) & 0xff)) % m
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Committed entries, oldest first (empty if table absent). */
  def entries(spark: SparkSession, path: String): Seq[Entry] = {
    val f = fs(spark, path)
    val log = new Path(path, CommitLog)
    if (!f.exists(log)) Seq.empty
    else {
      // S:/F: metadata fields are ADVISORY: a malformed or corrupt
      // field (hand-edited log, future format) drops silently and the
      // directory just isn't pruned — only the id itself is load-
      // bearing and stays strict. Numeric parses are Try-guarded so
      // one bad field can never fail the whole read path.
      readText(f, log).split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { l =>
        val parts = l.split("\\s+")
        Entry(parts(0).toLong, parts.exists(_ == "B"),
          parts.collectFirst { case t if t.startsWith("T:") => t.drop(2) },
          parts.iterator.filter(_.startsWith("S:")).flatMap { t =>
            // S:<col>:<min>:<max> — doubles never contain ':'
            t.drop(2).split(":") match {
              case Array(c, mn, mx) =>
                (scala.util.Try(mn.toDouble).toOption,
                  scala.util.Try(mx.toDouble).toOption) match {
                  case (Some(a), Some(b)) => Some(c -> (a, b))
                  case _ => None // unparseable bound: drop the field
                }
              case _ => None // malformed field: ignore, stay conservative
            }
          }.toMap,
          parts.iterator.filter(_.startsWith("F:")).flatMap { t =>
            // F:<col>:<m>:<k>:<hex> (legacy, untyped) or
            // F:<col>:<m>:<k>:<t>:<hex> (type-tagged)
            def bloom(c: String, m: String, k: String, hx: String,
                      tg: Option[String]): Option[(String, Bloom)] =
              (scala.util.Try(m.toInt).toOption,
                scala.util.Try(k.toInt).toOption) match {
                // k bounded by the md5 digest (8 two-byte slices of 16
                // bytes): a corrupt k=9 line used to crash EVERY
                // bloom-pruned read with an index error instead of the
                // documented conservative keep (review r20); k=0 would
                // vacuously match (harmless but meaningless) — drop too
                case (Some(mi), Some(ki))
                    if hx.length == (mi + 7) / 8 * 2 &&
                      ki >= 1 && ki <= 8 =>
                  Some(c -> Bloom(mi, ki, hx, tg))
                case _ => None // unparseable geometry: drop the field
              }
            t.drop(2).split(":") match {
              case Array(c, m, k, tg, hx) if tg.length == 1 =>
                bloom(c, m, k, hx, Some(tg))
              case Array(c, m, k, hx) => bloom(c, m, k, hx, None)
              case _ => None // malformed field: ignore, stay conservative
            }
          }.toMap,
          raw = Some(l))
      }.toSeq
    }
  }

  /** Committed snapshot ids, oldest first (empty if table absent). */
  def committed(spark: SparkSession, path: String): Seq[Long] =
    entries(spark, path).map(_.id)

  /** Head snapshot id (last committed), if any. */
  def head(spark: SparkSession, path: String): Option[Long] =
    committed(spark, path).lastOption

  /** The id the next commit after `prior` takes: ids are strictly
    * sequential, which [[deleteOptimistic]]'s vacuum-gap check relies
    * on. */
  private def nextId(prior: Seq[Entry]): Long =
    prior.lastOption.map(_.id).getOrElse(0L) + 1

  /** Atomic lock acquisition attempt (create-exclusive). Hadoop's
    * LOCAL filesystem create(overwrite=false) is exists-check-then-
    * create — NOT atomic (two same-ms writers both pass the check;
    * caught by JoinRegistry's concurrency spec, review r19) — so the
    * `file` scheme goes through java.nio createFile (O_CREAT|O_EXCL).
    * HDFS create(false) IS atomic at the namenode. Object stores need
    * an external lock service, as [[withLock]] documents. */
  private def tryAcquire(f: FileSystem, path: String): Boolean = {
    val lock = new Path(path, Lock)
    if (f.getScheme == "file")
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(
          f.makeQualified(lock).toUri.getPath))
        true
      } catch { case _: java.io.IOException => false }
    else
      try { f.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  /** Run `body` holding the writer lock; it gets the number of
    * acquisition retries eaten. `maxRetries = 0` is the single-writer
    * mode: a held lock fails at once. The optimistic writers retry
    * with backoff — their critical sections are milliseconds, so
    * contention resolves by waiting, not failing. */
  private def withLock[T](spark: SparkSession, path: String,
                          maxRetries: Int = 0, backoffMs: Long = 0)
                         (body: Int => T): T = {
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    var waits = 0
    while (!tryAcquire(f, path)) {
      if (maxRetries == 0) throw new IllegalStateException(
        s"snapshot table $path is locked by another writer ($Lock " +
          "exists); the reference is single-writer multi-reader, " +
          "and so is this layout")
      waits += 1
      if (waits > maxRetries) throw new IllegalStateException(
        s"could not acquire writer lock at $path after $maxRetries " +
          s"retries (~${maxRetries * backoffMs / 1000}s) — either a " +
          "writer crashed while holding _LOCK, or live commit " +
          "sections (e.g. a delete's conflict check) outlast this " +
          "writer's retry budget. Only delete _LOCK after confirming " +
          "NO writer is alive — a live holder's critical section " +
          "corrupts if the lock vanishes; prefer raising maxRetries")
      Thread.sleep(backoffMs)
    }
    try body(waits) finally f.delete(new Path(path, Lock), false)
  }

  private def commit(spark: SparkSession, path: String,
                     all: Seq[Entry]): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path, s"$CommitLog.tmp")
    val o = f.create(tmp, true)
    // carried-over entries re-emit their ORIGINAL line verbatim:
    // rendering from the parsed Entry would erase any field a newer
    // writer recorded and this version ignores (review r20)
    try o.write(all.map { e =>
      e.raw.getOrElse(
        s"${e.id}" + (if (e.isBase) " B" else "") +
          e.tag.map(t => s" T:$t").getOrElse("") +
          e.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
            s" S:$c:$mn:$mx"
          }.mkString +
          e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
            // tagged form is a 5-field F: — old readers' 4-field match
            // drops it (conservative keep), new readers parse both
            val tg = b.tag.map(t => s"$t:").getOrElse("")
            s" F:$c:${b.m}:${b.k}:$tg${b.hex}"
          }.mkString)
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally o.close()
    // ATOMIC replace, not delete-then-rename: the log is read
    // UNLOCKED by every reader and by deleteOptimistic's phase-1
    // validation, so a window where _COMMITS does not exist would
    // make a concurrent entries() see an empty table mid-commit
    // (review r18: a valid delete could spuriously fail 'basedOn was
    // never committed'). Local paths go through POSIX rename(2)
    // (java.nio ATOMIC_MOVE — Hadoop's local FileSystem/FileContext
    // refuse to overwrite); remote filesystems through FileContext's
    // OVERWRITE rename (HDFS implements it atomically).
    val dst = new Path(path, CommitLog)
    // branch on the RESOLVED filesystem, not the raw URI: a schemeless
    // path resolves to fs.defaultFS, which on a cluster is NOT the
    // local filesystem a java.nio move could reach (review r18)
    if (f.getScheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Column names are log-line fields: no whitespace, no ':'. */
  private def requireFieldNames(kind: String, cols: Seq[String]): Unit =
    cols.foreach(c => require(!c.exists(ch => ch.isWhitespace || ch == ':'),
      s"$kind column name must be whitespace/colon-free: '$c'"))

  /** Per-column [min, max] of the WRITTEN snapshot directory — the
    * zone map [[overlaps]] consumes. Computed by reading the staged
    * bytes back (column-pruned scan of just the stats columns), so
    * the recorded range is exactly what a reader of that directory
    * would see — never a recomputation of a nondeterministic input
    * plan. Values are cast to double (numerics exact up to 2^53;
    * timestamps become epoch seconds, identically on the filter
    * side). NULL-only columns record no stats (a range predicate on
    * the column excludes NULL rows anyway, so [[overlaps]] may
    * still drop the directory). */
  private def dirStats(spark: SparkSession, dir: String,
                       statsCols: Seq[String]): Map[String, (Double, Double)] =
    if (statsCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{col, max, min}
      import org.apache.spark.sql.types.DoubleType
      requireFieldNames("stats", statsCols)
      val back = spark.read.parquet(dir)
      val aggs = statsCols.flatMap { c =>
        val v = col(c).cast(DoubleType)
        Seq(min(v).as(s"__mn_$c"), max(v).as(s"__mx_$c"))
      }
      val r = back.agg(aggs.head, aggs.tail: _*).head()
      statsCols.flatMap { c =>
        val i = r.fieldIndex(s"__mn_$c")
        if (r.isNullAt(i)) None
        else Some(c -> (r.getDouble(i), r.getDouble(i + 1)))
      }.toMap
    }

  /** Default Bloom geometry: 4096 bits / 4 hashes ≈ 2% false-positive
    * rate at 500 distinct keys per snapshot, saturating gracefully
    * (a saturated bloom keeps its directory — never wrong, just not
    * pruning). Sized for appends whose per-batch key set is BOUNDED
    * (per-run calibration tables, per-night batch ids); dense
    * high-cardinality keys belong to zone maps, not blooms — the
    * commit log is a text file, not an index. */
  val BloomBits = 4096
  val BloomHashes = 4

  /** Per-column Bloom filter of the WRITTEN snapshot directory.
    * Values are canonicalized by Spark's string cast (longs print
    * exactly, strings pass through — the same canonical form
    * [[mayContainKey]] applies to its probe value). Bit positions
    * come from a codegen'd md5-hex-slice expression, no UDF; the
    * DISTINCT on positions bounds the collected set to ≤ m ints
    * regardless of directory size. NULLs set no bits (an equality
    * probe excludes NULL rows anyway). */
  private def dirBlooms(spark: SparkSession, dir: String,
                        bloomCols: Seq[String]): Map[String, Bloom] =
    if (bloomCols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{array, col, conv, explode, md5, substring}
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
      requireFieldNames("bloom", bloomCols)
      val (m, k) = (BloomBits, BloomHashes)
      val back = spark.read.parquet(dir)
      bloomCols.map { c =>
        // the canonical a probe must reproduce EXACTLY is Spark's
        // string cast of THIS column type — record which type class
        // that was, so readers never guess (a DECIMAL(10,2) casts 7
        // to "7.00", which no double-derived canonical matches)
        val typeTag = back.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType => "i"
          case StringType => "s"
          case _ => "o"
        }
        val h = md5(col("v").cast("binary"))
        val pos = (0 until k).map(i =>
          (conv(substring(h, i * 4 + 1, 4), 16, 10).cast(LongType) % m)
            .cast(IntegerType))
        val bits = back.select(col(c).cast(StringType).as("v"))
          .na.drop()
          .select(explode(array(pos: _*)).as("p"))
          .distinct()
          .collect().map(_.getInt(0)) // ≤ m rows by construction
        val bytes = new Array[Byte]((m + 7) / 8)
        bits.foreach(p => bytes(p >> 3) =
          (bytes(p >> 3) | (0x80 >> (p & 7))).toByte)
        c -> Bloom(m, k, bytes.map(b => f"${b & 0xff}%02x").mkString,
          Some(typeTag))
      }.toMap
    }

  /** The locked writers' one commit step: under the lock, resolve the
    * log, write `data` as the next id, record the written bytes' zone
    * maps and blooms, swap the log. `data` is evaluated INSIDE the
    * lock: a compaction resolving its head unlocked would silently
    * shadow a snapshot committed in between — data loss once vacuum
    * runs (review r20). A BASE folds all prior data, so it tracks
    * every column any prior entry tracked. A `tag` already in the log
    * makes the step a no-op returning that entry's id. */
  private def commitLocked(spark: SparkSession, path: String,
                           isBase: Boolean, tag: Option[String] = None,
                           statsCols: Seq[String] = Nil,
                           bloomCols: Seq[String] = Nil)
                          (data: => DataFrame): Long =
    withLock(spark, path) { _ =>
      val prior = entries(spark, path)
      tag.flatMap(t => prior.find(_.tag.contains(t))) match {
        case Some(e) => e.id // replayed batch: already committed
        case None =>
          val id = nextId(prior)
          data.write.mode("overwrite").parquet(dir(path, id))
          val (sc, bc) =
            if (isBase) (prior.flatMap(_.stats.keys).distinct,
              prior.flatMap(_.blooms.keys).distinct)
            else (statsCols, bloomCols)
          commit(spark, path, prior :+ Entry(id, isBase, tag,
            dirStats(spark, dir(path, id), sc),
            dirBlooms(spark, dir(path, id), bc)))
          id
      }
    }

  /** Append `df` as a new snapshot; returns its id. Stages the data
    * directory completely before the commit-log swap, so readers can
    * never observe a partial snapshot. `statsCols` names columns whose
    * [min, max] is recorded in the commit entry for zone-map pruning
    * ([[overlaps]]) — the LSD temporal-sub-cell idea as metadata:
    * when appends arrive in natural ranges (per-epoch MJD batches,
    * per-run ids), a range query skips whole snapshot directories
    * without opening a single file footer. `bloomCols` names columns
    * whose Bloom filter is recorded for key probes ([[mayContainKey]]).
    *
    * `tag` makes the append idempotent: it names the LOGICAL batch
    * (e.g. a Structured Streaming batchId). If a commit carrying this
    * tag already exists, nothing is written and its snapshot id is
    * returned — so an at-least-once producer (a retried micro-batch
    * after a crash) lands exactly once. */
  def append(df: DataFrame, path: String,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil,
             tag: Option[String] = None): Long = {
    tag.foreach(t => require(t.nonEmpty && !t.exists(_.isWhitespace),
      s"tag must be non-empty and whitespace-free: '$t'"))
    commitLocked(df.sparkSession, path, isBase = false, tag, statsCols,
      bloomCols)(df)
  }

  /** Compact: materialize the current head state as a single new BASE
    * snapshot. Head reads afterwards scan ONE directory instead of
    * every append since the last base — the small-file/lifecycle half
    * of MVCC (at scale, appends are frequent and tiny relative to the
    * table; an uncompacted read is a k-way union that grows without
    * bound). History stays intact: `asOf` an id below the base still
    * resolves through the old directories, so compaction is purely a
    * physical operation — same rows, fewer directories. */
  def compact(spark: SparkSession, path: String): Long =
    commitLocked(spark, path, isBase = true)(read(spark, path))

  /** Vacuum: physically delete snapshots OLDER than the last base and
    * drop them from the log — the retention step after [[compact]]
    * (until vacuumed, history is retained and time-travelable; after,
    * an `asOf` below the base fails loudly as never-committed). A
    * table with no base snapshot is untouched: every directory is
    * still needed to reconstruct the head. Returns deleted ids. */
  def vacuum(spark: SparkSession, path: String): Seq[Long] =
    withLock(spark, path) { _ =>
      val all = entries(spark, path)
      val lastBase = all.lastIndexWhere(_.isBase)
      if (lastBase <= 0) Seq.empty
      else {
        val (expired, kept) = all.splitAt(lastBase)
        // commit the shrunken log FIRST: if a deletion dies midway,
        // readers already ignore the expired dirs (log is the truth)
        commit(spark, path, kept)
        val f = fs(spark, path)
        expired.foreach(e => f.delete(new Path(dir(path, e.id)), true))
        expired.map(_.id)
      }
    }

  /** Shared asOf-visibility resolution: committed entries up to
    * `asOf` (head when None; loud when never committed), cut to the
    * last BASE at or below it — the ONE visibility rule every read
    * path applies (review r20: a visibility-semantics fix must land
    * once). */
  private def visibleEntries(spark: SparkSession, path: String,
                             asOf: Option[Long]): Seq[Entry] = {
    val all = entries(spark, path)
    require(all.nonEmpty, s"no committed snapshots at $path")
    val upTo = asOf match {
      case Some(s) =>
        require(all.exists(_.id == s), s"snapshot $s was never " +
          s"committed (committed: ${all.map(_.id).mkString(",")})")
        all.filter(_.id <= s)
      case None => all
    }
    val lastBase = upTo.lastIndexWhere(_.isBase)
    if (lastBase < 0) upTo else upTo.drop(lastBase)
  }

  private def scan(spark: SparkSession, path: String,
                   es: Seq[Entry]): DataFrame =
    spark.read.parquet(es.map(e => dir(path, e.id)): _*)

  /** Read the table as of snapshot `asOf` (inclusive); default head.
    * The result is the union of the LAST BASE snapshot <= asOf (a
    * compaction product, which already folds in everything before it)
    * plus every append after it — the reference's append-accumulate
    * semantics with bounded directory fan-in. Uncommitted/torn
    * snapshot directories are invisible by construction.
    *
    * `keep` prunes the scan set by commit-log metadata alone, before
    * any footer is opened. The predicates [[overlaps]],
    * [[mayContainKey]] and [[mayHoldIn]] drop only directories that
    * provably hold no row of the caller's filter `f` they were built
    * from, so `read(keep = p).filter(f)` ≡ `read().filter(f)`. When
    * every directory is pruned the result is empty, with the head
    * schema. */
  def read(spark: SparkSession, path: String,
           asOf: Option[Long] = None,
           keep: Entry => Boolean = _ => true): DataFrame = {
    val visible = visibleEntries(spark, path, asOf)
    val kept = visible.filter(keep)
    if (kept.nonEmpty) scan(spark, path, kept)
    else // every directory pruned: empty result with the head schema
      scan(spark, path, Seq(visible.last))
        .where(org.apache.spark.sql.functions.lit(false))
  }

  /** Zone-map keep predicate for [[read]]: drops directories whose
    * recorded `[min, max]` of `statCol` (`append(statsCols = …)`)
    * does NOT intersect `[lo, hi]` — a one-night query over a 10-year
    * table of per-epoch appends reads one night's directories.
    * Contract: the caller's filter must imply `statCol BETWEEN lo AND
    * hi` (after the stats' double cast); that excludes NULLs, so
    * NULL-only columns prune safely. Directories without stats for
    * `statCol`, and NaN endpoints, keep the directory. */
  def overlaps(statCol: String, lo: Double, hi: Double): Entry => Boolean =
    e => e.stats.get(statCol) match {
      case Some((mn, mx)) => !(mx < lo || mn > hi) // NaN-safe: keep
      case None => true // no zone map for this column: must scan
    }

  /** Bloom keep predicate for a point lookup: drops directories whose
    * Bloom filter for `keyCol` (`append(bloomCols = …)`) proves
    * `value` ABSENT — "one object's history across ten years of
    * appends", where every append spans the full key range but has a
    * bounded key SET. `value` is canonicalized by `toString`, which
    * matches the write side's string cast for integer and string
    * keys (pass a Long for BIGINT, a String for text). Directories
    * without a bloom for `keyCol` are kept; false positives only add
    * directories. */
  def mayContainKey(keyCol: String, value: Any): Entry => Boolean = {
    // A tagged bloom only prunes when the probe's runtime class can
    // reproduce the writer's canonical: integral probes for "i"
    // columns, string probes for "s" columns. Tag/probe mismatches
    // (a Double probe against an "o" decimal column, a numeric probe
    // against a string column, …) keep the directory. Legacy untagged
    // blooms retain this probe's original documented contract: the
    // caller passed the key's natural form, probe it as given.
    val v = String.valueOf(value)
    val probeOk = (tag: Option[String]) => tag match {
      case None => true // legacy: documented caller contract applies
      case Some("i") => value match {
        case _: Byte | _: Short | _: Int | _: Long => true
        case _ => false
      }
      case Some("s") => value.isInstanceOf[String]
      case Some(_) => false // "o"/unknown: canonical not reproducible
    }
    e => e.blooms.get(keyCol) match {
      case Some(b) if probeOk(b.tag) => b.mightContain(v)
      case _ => true // no bloom / unprobeable type: must scan
    }
  }

  /** Whether entry `e` can possibly hold `keyCol = v`: its zone map
    * (when recorded) admits `v` AND its Bloom filter (when recorded)
    * might contain `v`. The query layer's literal arrives as a
    * double, so the bloom only prunes an INTEGRAL column (`tag = "i"`)
    * probed with a whole `v` below 2^53, which hashes exactly
    * `v.toLong.toString` — Spark's write-time cast. Every other case
    * (decimal/float/date `"o"` columns, whose casts like `"7.00"` no
    * double reproduces; numeric probes of strings; untagged legacy
    * blooms; non-whole or huge probes) KEEPS the directory. */
  private def mayHoldEq(e: Entry, keyCol: String, v: Double): Boolean = {
    val zoneOk = e.stats.get(keyCol) match {
      case Some((mn, mx)) => !(mx < v || mn > v) // NaN-safe: keep
      case None => true
    }
    val bloomOk = e.blooms.get(keyCol) match {
      case Some(b) if b.tag.contains("i") &&
          v.isWhole && math.abs(v) < 9.007199254740992e15 =>
        b.mightContain(v.toLong.toString)
      case _ => true // canonical not provably reproducible: must scan
    }
    zoneOk && bloomOk
  }

  /** Equality / IN-list keep predicate over BOTH metadata channels:
    * a directory survives if ANY listed value passes [[mayHoldEq]] —
    * `keyCol IN (vs)` (or `= v`) is only satisfiable through a listed
    * value, so dropping a directory that admits none is sound. */
  def mayHoldIn(keyCol: String, vs: Seq[Double]): Entry => Boolean = {
    require(vs.nonEmpty, "IN-list probe needs at least one value")
    e => vs.exists(v => mayHoldEq(e, keyCol, v))
  }

  // ---- keyed tables: merge-on-read upserts/deletes (CDC-lite) ------
  //
  // The reference's catalogs were UPDATABLE under the same
  // single-writer transaction model (object recalibration, flag
  // fixes). Spark-native form: upserts and deletes are ordinary
  // append snapshots — an upsert batch carries full rows, a delete
  // batch carries keys with a `_tombstone` marker — and the MERGE
  // happens at read time: one window over (base + deltas) keyed on
  // the table key, newest snapshot wins, tombstones drop. That is
  // merge-on-read, the scalable half of the Delta/Iceberg design:
  // writes stay O(batch), reads pay one key-partitioned shuffle over
  // the visible directories, and compactMerged() periodically folds
  // history into a live-rows-only BASE to bound that fan-in.
  //
  // Contract: keys are unique within one batch (the caller's CDC
  // dedup, same as Delta MERGE's unique-match rule); across batches
  // last-writer-wins by snapshot id.

  private val Tombstone = "_tombstone"

  /** Append an upsert batch (full rows; insert-or-replace by key at
    * read time). Plain [[append]] — the semantics live in the read. */
  def upsert(df: DataFrame, path: String): Long = append(df, path)

  /** Append a delete batch: `keys` holds just the key column(s);
    * rows become tombstones that hide every older version of the key. */
  def delete(keys: DataFrame, path: String): Long =
    append(keys.withColumn(Tombstone, org.apache.spark.sql.functions.lit(true)),
      path)

  // ---- optimistic concurrency: multi-writer commits ----------------
  //
  // The reference (and this layout until now) was single-writer: a
  // held _LOCK makes a second writer FAIL, even though its work
  // doesn't overlap. Optimistic form (closes SURVEY §1.1's last
  // data-model gap): the expensive distributed data write stages
  // OUTSIDE any lock into _staging/<uuid>; the commit critical
  // section — log read, conflict check, staging→snap=N rename (a
  // metadata op), log swap — is tiny and serialized by the same
  // atomic-create _LOCK, acquired with bounded retry instead of
  // fail-fast. Writers therefore interleave their heavy writes freely
  // and only queue for milliseconds at commit.
  //
  // Serializability argument, per operation class:
  //  - blind APPENDS commute (no append reads table state), so any
  //    interleaving is equivalent to the commit-order serial history —
  //    always committable, the Delta/Iceberg append rule;
  //  - DELETES (tombstone batches) read state: a delete decided
  //    against snapshot `basedOn` conflicts with ANY write to the
  //    same key committed after `basedOn` — a tombstone (two writers
  //    both "deleted" a key each thought live) or a live row (an
  //    upsert this delete never saw, which its younger tombstone
  //    would silently erase). Either way last-writer-wins would
  //    launder the stale read. Overlap ⇒ loud ConflictException
  //    (abort; staging cleaned); disjoint keys commute ⇒ commit.
  //
  // Readers are untouched: they trust only the log, so staging dirs
  // and aborted writes are invisible by construction. A crashed
  // writer leaks an unreferenced _staging/<uuid> dir (reclaim with
  // cleanStaging when no writers are active) or, if it died between
  // its rename and its log commit, an uncommitted snap=<id> orphan —
  // which the next committer provably identifies (log is truth, lock
  // is held) and reclaims before reusing the id (promoteStaging).
  //
  // Retry/abort counters accumulate in _OC_STATS (updated under the
  // lock), so operators can SEE contention: `AdminCli snapshots`
  // prints them.

  /** (retries, aborts) recorded in `p`; (0,0) when absent. */
  private def readOcStats(f: FileSystem, p: Path): (Long, Long) =
    if (!f.exists(p)) (0L, 0L)
    else {
      val text = readText(f, p)
      def n(k: String) = s"$k:(\\d+)".r.findFirstMatchIn(text)
        .map(_.group(1).toLong).getOrElse(0L)
      (n("retries"), n("aborts"))
    }

  /** Table-lifetime optimistic-commit counters: (lock retries,
    * conflict aborts). (0,0) when no optimistic writer ever ran. */
  def ocStats(spark: SparkSession, path: String): (Long, Long) = {
    val f = fs(spark, path)
    val p = new Path(path, OcStats)
    // lock-free monitoring read racing bumpOcStats' delete+rename:
    // exists() can pass and open() still miss the file — retry once
    // (the swap is microseconds), then report zeros rather than crash
    // a status command over a counter file
    for (_ <- 0 until 2) {
      try return readOcStats(f, p)
      catch { case _: java.io.IOException => Thread.sleep(20) }
    }
    (0L, 0L)
  }

  /** Accumulate counters; caller MUST hold the writer lock (the
    * read-modify-write below is only safe serialized). */
  private def bumpOcStats(f: FileSystem, path: String,
                          retries: Long, aborts: Long): Unit = {
    val p = new Path(path, OcStats)
    val (r0, a0) = readOcStats(f, p)
    val tmp = new Path(path, s"$OcStats.tmp")
    val o = f.create(tmp, true)
    try o.write(s"retries:${r0 + retries}\naborts:${a0 + aborts}\n"
      .getBytes("UTF-8"))
    finally o.close()
    if (f.exists(p)) f.delete(p, false)
    require(f.rename(tmp, p), "_OC_STATS rename failed")
  }

  /** Counter IO is monitoring: its failure must NEVER replace the
    * caller's outcome — a commit that already succeeded (the caller
    * would retry and double-append) or the retryable
    * ConflictException that is the caller contract (review r18).
    * Log and swallow; counters may undercount. */
  private def countQuietly(path: String, what: String)(bump: => Unit): Unit =
    try bump
    catch {
      case NonFatal(e) =>
        System.err.println(s"[snapshots] WARN: $what at $path: $e")
    }

  private def newStage(path: String): String =
    s"$path/$Staging/${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** The optimistic writers' commit step, under the held lock: the
    * next id after `prior`, the staged directory promoted to it, the
    * log swap, and the retry-counter bump. */
  private def commitStaged(spark: SparkSession, f: FileSystem,
                           path: String, stage: String, prior: Seq[Entry],
                           waits: Int,
                           stats: Map[String, (Double, Double)] = Map.empty,
                           blooms: Map[String, Bloom] = Map.empty)
      : OptimisticCommit = {
    val id = nextId(prior)
    promoteStaging(f, path, stage, id)
    commit(spark, path, prior :+
      Entry(id, isBase = false, stats = stats, blooms = blooms))
    countQuietly(path, "_OC_STATS update failed after a successful " +
      "commit (counters undercount)")(
      bumpOcStats(f, path, retries = waits.toLong, aborts = 0L))
    OptimisticCommit(id, waits)
  }

  /** Optimistic append: stages the data write outside any lock, then
    * commits under a briefly-held, retried lock. Blind appends
    * commute, so this never aborts — concurrent appenders serialize
    * in commit order with sequential ids. Returns id + retry count. */
  def appendOptimistic(df: DataFrame, path: String,
                       statsCols: Seq[String] = Nil,
                       bloomCols: Seq[String] = Nil,
                       maxRetries: Int = 1200,
                       backoffMs: Long = 50): OptimisticCommit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    val stage = newStage(path)
    df.write.mode("overwrite").parquet(stage) // heavy write: UNLOCKED
    val st = dirStats(spark, stage, statsCols) // same bytes after rename
    val bl = dirBlooms(spark, stage, bloomCols)
    withLock(spark, path, maxRetries, backoffMs) { waits =>
      commitStaged(spark, f, path, stage, entries(spark, path), waits,
        st, bl)
    }
  }

  /** Promote a fully-staged dir to `snap=<id>` under the held lock.
    * A writer that crashed AFTER its rename but BEFORE its log commit
    * leaves an orphaned `snap=<id>` that the log never references —
    * invisible to readers, but the NEXT committer computes the same
    * id from the log, and a rename onto an existing directory nests
    * the new data inside the orphan (Hadoop local-FS rename/copy-into
    * semantics), committing an id whose directory holds the crashed
    * writer's rows. Since the log is the sole source of truth and we
    * hold the lock, an existing-but-uncommitted `snap=<id>` is
    * provably garbage: delete it, then rename. */
  private def promoteStaging(f: FileSystem, path: String,
                             stage: String, id: Long): Unit = {
    val dst = new Path(dir(path, id))
    // orphan of a crashed commit — the delete MUST succeed: a false
    // return followed by rename would move the staged dir INSIDE the
    // orphan (Hadoop rename-into-existing semantics), the exact
    // corruption this method exists to prevent
    if (f.exists(dst)) require(f.delete(dst, true),
      s"could not reclaim orphaned $dst before reusing its id")
    require(f.rename(new Path(stage), dst),
      s"staging rename failed: $stage -> snap=$id")
  }

  /** Optimistic tombstone delete: `keys` (just the key column) read
    * against head snapshot `basedOn`. Commits unless another writer
    * WROTE any of the same keys in a snapshot after `basedOn` —
    * tombstone OR live row: a concurrent re-delete and a concurrent
    * upsert/re-insert are equally write-write conflicts (this delete
    * decided from a read that is now stale for those keys; committing
    * it would make the younger tombstone silently erase the newer
    * row, violating the snapshot-isolation claim). Overlap aborts
    * with [[ConflictException]] (staging cleaned, abort counted in
    * [[ocStats]]). Disjoint concurrent deletes and appends of OTHER
    * keys commute and commit.
    *
    * Locking economics: the overlap check is schema reads plus a
    * Spark join — SECONDS on a loaded cluster, not microseconds — so
    * it runs in two phases. The bulk check runs UNLOCKED against the
    * snapshots visible before acquisition; under the lock only
    * commits that appeared since that pre-check are re-validated, so
    * the critical section is O(new commits) (usually zero), and
    * concurrent appenders' retry budgets (1200 × 50 ms = 60 s) are
    * never eaten by a large delete batch. */
  def deleteOptimistic(keys: DataFrame, path: String, key: String,
                       basedOn: Long,
                       maxRetries: Int = 1200,
                       backoffMs: Long = 50): OptimisticCommit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = keys.sparkSession
    val f = fs(spark, path)
    val stage = newStage(path)
    keys.withColumn(Tombstone, lit(true))
      .write.mode("overwrite").parquet(stage)
    // keys written after basedOn in `es` (live rows AND tombstones)
    // that overlap the staged delete batch — the write-write set.
    // Compaction BASES are excluded by the callers: a base contains
    // ALL live rows (including every staged key, by definition), so
    // key overlap against it is vacuous — it would flag every delete
    // that merely races routine compact maintenance, breaking the
    // documented disjoint-keys-commute guarantee (review r20). That
    // exclusion is only sound while the REAL deltas after basedOn are
    // still in the log, which requireHistoryComplete checks below.
    def overlapIn(es: Seq[Entry]): Array[String] = {
      val laterKeys = es.flatMap { e =>
        val d = spark.read.parquet(dir(path, e.id))
        if (d.columns.contains(key))
          Some(d.select(col(key).cast("string").as("__k")))
        else None
      }
      if (laterKeys.isEmpty) Array.empty
      else {
        val staged = spark.read.parquet(stage)
          .select(col(key).cast("string").as("__k")).distinct()
        laterKeys.reduce(_ union _).distinct()
          .join(staged, "__k").limit(5)
          .collect().map(_.getString(0))
      }
    }
    def abort(msg: String): Nothing = {
      f.delete(new Path(stage), true)
      throw new ConflictException(msg)
    }
    // a conflict counts its abort best-effort (counter IO must not
    // replace the abort) and aborts
    def conflict(overlap: Array[String])(countAbort: => Unit): Nothing = {
      countQuietly(path, "abort-counter bump skipped")(countAbort)
      abort(
        s"delete based on snapshot $basedOn conflicts with a newer " +
          s"write (tombstone or upsert) on key(s) " +
          s"${overlap.mkString(", ")} (committed after $basedOn at " +
          s"$path); re-read the table and re-decide the delete")
    }
    // ids are strictly sequential, so vacuumed history after basedOn
    // shows up as a GAP in (basedOn, head] — deltas we can no longer
    // key-check. Abort honestly (retry on the new head) instead of
    // either flagging the base (false conflict) or skipping the
    // vacuumed deltas (missed conflict).
    def requireHistoryComplete(es: Seq[Entry]): Unit = {
      val upTo = es.lastOption.map(_.id).getOrElse(basedOn)
      val present = es.map(_.id).toSet
      val missing = ((basedOn + 1) to upTo).filterNot(present)
      if (missing.nonEmpty) abort(
        s"history after basedOn=$basedOn was compacted and vacuumed " +
          s"(snapshots ${missing.mkString(",")} are gone) — the " +
          "delete can no longer be validated against it; re-read the " +
          s"table at $path and re-decide")
    }
    // phase 1, UNLOCKED: validate against everything committed so far
    val pre = entries(spark, path)
    require(pre.exists(_.id == basedOn),
      s"basedOn snapshot $basedOn was never committed " +
        s"(committed: ${pre.map(_.id).mkString(",")})")
    requireHistoryComplete(pre.filter(_.id > basedOn))
    val preOverlap = overlapIn(
      pre.filter(e => e.id > basedOn && !e.isBase))
    // the abort count takes its own short lock budget: lock
    // contention must not delay the abort
    if (preOverlap.nonEmpty) conflict(preOverlap)(
      withLock(spark, path, maxRetries = 100, backoffMs) { w =>
        bumpOcStats(f, path, retries = w.toLong, aborts = 1L)
      })
    val preChecked = pre.map(_.id).toSet
    // phase 2, LOCKED: only commits that landed since the pre-check
    withLock(spark, path, maxRetries, backoffMs) { waits =>
      val prior = entries(spark, path)
      // the full-range completeness re-check matters here: a compact +
      // vacuum may have run between the phases
      requireHistoryComplete(prior.filter(_.id > basedOn))
      val fresh = prior.filter(e => e.id > basedOn &&
        !preChecked.contains(e.id) && !e.isBase)
      val overlap = overlapIn(fresh)
      if (overlap.nonEmpty) conflict(overlap)(
        bumpOcStats(f, path, retries = waits.toLong, aborts = 1L))
      commitStaged(spark, f, path, stage, prior, waits)
    }
  }

  /** Reclaim staging dirs leaked by crashed optimistic writers. Only
    * safe when no writer is actively staging — enforced loosely by
    * requiring the writer lock to be free and taking it for the
    * sweep. Returns deleted staging dir names. */
  def cleanStaging(spark: SparkSession, path: String): Seq[String] =
    withLock(spark, path) { _ =>
      val f = fs(spark, path)
      val st = new Path(path, Staging)
      if (!f.exists(st)) Seq.empty
      else {
        val kids = f.listStatus(st).map(_.getPath).toSeq
        kids.foreach(p => f.delete(p, true))
        kids.map(_.getName)
      }
    }

  /** Merged (upsert-resolved) state as of `asOf` (default head): per
    * key, the newest visible version wins; tombstoned keys vanish.
    * Scan set = last base + later deltas, exactly like [[read]]; the
    * merge costs ONE key-partitioned window over that union. */
  def readMerged(spark: SparkSession, path: String, key: String,
                 asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val visible = visibleEntries(spark, path, asOf)
    // per-directory reads so each row knows its snapshot id; delete
    // batches carry only (key, _tombstone) → union by name with
    // missing columns as NULL
    val parts = visible.map { e =>
      val d = scan(spark, path, Seq(e))
      val t = if (d.columns.contains(Tombstone)) d
              else d.withColumn(Tombstone, lit(false))
      t.withColumn("_snap", lit(e.id))
    }
    val u = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(key).orderBy(col("_snap").desc)
    u.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col(Tombstone))
      .drop("_rn", "_snap", Tombstone)
  }

  /** Compact a keyed table: materialize the MERGED head (live rows
    * only — upserts resolved, tombstones applied and discarded) as a
    * new BASE snapshot. Post-base reads scan one directory + later
    * deltas; [[vacuum]] then reclaims pre-base history as usual.
    * Blooms recompute like [[compact]]'s — dropping them made keyed
    * point-lookup pruning degrade permanently after a keyed
    * compaction (review r20). */
  def compactMerged(spark: SparkSession, path: String, key: String): Long =
    commitLocked(spark, path, isBase = true)(readMerged(spark, path, key))

  /** Incremental (delta) read: ONLY the rows that landed in snapshots
    * `(after, asOf]` — the "process just the new data" primitive an
    * incremental pipeline runs between two checkpoints. Version
    * selection is directory selection, so the scan cost is the size
    * of the DELTA, not the table: at 100 TB a nightly increment reads
    * last night's bytes and nothing else.
    *
    * A compaction base inside the range is refused loudly: a base
    * REWRITES prior history into one directory, so the rows appended
    * since `after` are no longer identifiable as whole directories —
    * the caller must either delta-read below the base or do a full
    * `read` and diff. `after = 0` means "since table creation". */
  def readDelta(spark: SparkSession, path: String,
                after: Long, asOf: Long): DataFrame = {
    require(after >= 0 && asOf > after,
      s"need 0 <= after < asOf, got ($after, $asOf]")
    val all = entries(spark, path)
    require(all.exists(_.id == asOf), s"snapshot $asOf was never " +
      s"committed (committed: ${all.map(_.id).mkString(",")})")
    require(after == 0 || all.exists(_.id == after),
      s"snapshot $after was never committed")
    val range = all.filter(e => e.id > after && e.id <= asOf)
    require(!range.exists(_.isBase),
      s"delta ($after, $asOf] crosses compaction base " +
        s"${range.filter(_.isBase).map(_.id).mkString(",")}: history " +
        "was rewritten; delta-read below the base or diff full reads")
    scan(spark, path, range)
  }
}
