package graft.tools

import graft.SpecBase
import org.apache.spark.sql.types.{IntegerType, LongType}

class ScalePointSpec extends SpecBase {
  import spark.implicits._

  test("inflate shifts integral keys per replica and keeps their types") {
    val df = Seq((1, 10L, "a"), (2, 20L, "b")).toDF("o_key", "user_id", "v")
    val out = ScalePoint.inflate(df, 3)
    assert(out.schema("o_key").dataType == IntegerType)
    assert(out.schema("user_id").dataType == LongType)
    val rows = out.as[(Int, Long, String)].collect()
    assert(rows.length == 6)
    // replicas never collide on any key, and non-key columns repeat
    assert(rows.map(_._1).distinct.length == 6)
    assert(rows.map(_._2).distinct.length == 6)
    assert(rows.map(_._3).sorted.toSeq == Seq("a", "a", "a", "b", "b", "b"))
    // BIGINT keys keep the 2^40 stride; INT keys get one that fits
    assert(rows.map(_._2).toSet ==
      (0L until 3L).flatMap(r => Seq(10L, 20L).map(_ + (r << 40))).toSet)
    assert(rows.map(_._1).toSet ==
      (0 until 3).flatMap(r => Seq(1, 2).map(_ + (r << 29))).toSet)
  }

  test("inflate refuses a non-integral key, naming the column") {
    val df = Seq(("x1", 1L), ("x2", 2L)).toDF("doc_id", "n_key")
    val e = intercept[IllegalArgumentException](ScalePoint.inflate(df, 2))
    assert(e.getMessage.contains("'doc_id'"), e.getMessage)
  }

  test("inflate refuses an integral key too wide for the replica stride") {
    val df = Seq(Int.MaxValue - 1).toDF("id")
    val e = intercept[IllegalArgumentException](ScalePoint.inflate(df, 4))
    assert(e.getMessage.contains("'id'"), e.getMessage)
  }
}
