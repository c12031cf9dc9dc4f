package graft.tools

import graft.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Dev tool: one LARGER-SCALE evidence point for optimization claims
  * (r21 verdict item 8 — "the 8c/32c totals proved sf0.1 can't
  * demonstrate scaling"). Synthesizes sf0.1 × N by unioning N
  * key-shifted replicas of every table ([[inflate]]: offset =
  * replica · 2^40 on every `*key`/`*_id`/`id` column, so referential
  * integrity holds within each replica), written as MULTI-FILE parquet — which also exercises
  * the production layout where `LsdDb.spread` must no-op — then times
  * the named queries cold + 2 warm, QueryProfile-style.
  *
  * This is opt-in developer evidence, not part of Bench/Verify; the
  * inflated dataset is an INPUT copy under /tmp, never a cached
  * result.
  *
  * Usage: ScalePoint <N> <query...>  (defaults: 8, the r22 touched set)
  */
object ScalePoint {
  /** `n` key-shifted replicas of `df`: every key column (`*key`,
    * `*_id`, `id`) of replica r is shifted by r · stride and cast back
    * to its own type, so the inflated copy keeps the source schema and
    * each replica's keys stay disjoint from the others'. The stride is
    * 2^40 for BIGINT keys; a narrower integral type gets the largest
    * power of two that fits n replicas in its range. A non-integral
    * key, or one whose values do not fit below the stride, fails
    * naming the column: a silently NULLed or colliding key would
    * break the referential integrity the evidence depends on. */
  private[tools] def inflate(df: DataFrame, n: Int): DataFrame = {
    val keys = df.schema.fields.filter(f => f.name.endsWith("key") ||
      f.name.endsWith("_id") || f.name == "id")
    val stride = keys.map { f =>
      val bits = f.dataType match {
        case LongType => 63
        case IntegerType => 31
        case ShortType => 15
        case ByteType => 7
        case t => throw new IllegalArgumentException(s"ScalePoint: " +
          s"key column '${f.name}' is ${t.simpleString}, not integral; " +
          "it cannot be key-shifted")
      }
      val room = bits - (32 - Integer.numberOfLeadingZeros(n - 1))
      f.name -> (1L << math.min(40, room))
    }.toMap
    for (f <- keys) {
      val r = df.agg(min(f.name), max(f.name)).head()
      require(r.isNullAt(0) || (r.getAs[Number](0).longValue >= 0 &&
        r.getAs[Number](1).longValue < stride(f.name)),
        s"ScalePoint: key column '${f.name}' spans [${r(0)}, ${r(1)}], " +
          s"outside [0, ${stride(f.name)}): shifted replicas would " +
          "collide or overflow")
    }
    val repl = df.sparkSession.range(n).select(col("id").as("__r"))
    df.crossJoin(repl).select(df.schema.fields.map { f =>
      stride.get(f.name).fold(col(f.name))(st =>
        (col(f.name) + col("__r") * st).cast(f.dataType).as(f.name))
    }: _*)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_linreg", "q_logreg", "q_dedup_prefix",
        "q_dedup_containment", "q_join_fuzzy", "q_clustering_coeff",
        "q_xmatch_3way")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val dst = s"${sys.props("java.io.tmpdir")}/graft_scale_x$n"
    val marker = java.nio.file.Paths.get(s"$dst/_READY")
    if (!java.nio.file.Files.exists(marker)) {
      for (t <- graft.LsdDb.standardTables) {
        inflate(graft.LsdDb.table(spark, src, t), n)
          .repartition(16).write.mode("overwrite")
          .parquet(s"$dst/$t.parquet")
        println(s"inflated $t x$n")
      }
      java.nio.file.Files.createFile(marker)
    }
    for (q <- Registry.specs if names.contains(q.name)) {
      try {
        for (run <- Seq("cold", "warm", "warm")) {
          val t0 = System.nanoTime()
          q.fn(spark, dst).queryExecution.toRdd
            .foreachPartition(it => while (it.hasNext) { it.next(); () })
          println(f"${q.name} x$n $run: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      } catch {
        case e: Throwable => println(s"FAILED ${q.name}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
