package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SkewSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("salted two-phase sum equals the naive groupBy") {
    val salted = Skew.saltedSum(li, "l_returnflag", "l_quantity")
      .select($"l_returnflag", $"sum_l_quantity", $"n_rows")
      .as[(String, Double, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val naive = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(salted == naive)
  }

  test("salted join equals the plain equi-join") {
    val dim = Seq(("A", "grpA"), ("N", "grpN"), ("R", "grpR")).toDF("l_returnflag", "grp")
    val salted = Skew.saltedJoin(li.select("l_orderkey", "l_linenumber", "l_returnflag"),
      dim, "l_returnflag")
    val plain = li.select("l_orderkey", "l_linenumber", "l_returnflag")
      .join(dim, "l_returnflag")
    assert(salted.count() == plain.count())
    assert(salted.groupBy("grp").count().as[(String, Long)].collect().toMap ==
      plain.groupBy("grp").count().as[(String, Long)].collect().toMap)
  }

  test("sizedParallelism: a 0-byte statistic gets one partition, not the " +
      "unknown-size cap") {
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(empty.queryExecution.optimizedPlan.stats.sizeInBytes == 0,
      "precondition: the optimizer sizes an empty local relation at 0 bytes")
    assert(Skew.sizedParallelism(empty) == 1)
  }

  test("joinFanoutAudit: contributions, total, shares, one-sided keys") {
    // key 1: 3×2=6, key 2: 1×4=4, key 3 left-only: 0, key 4 right-only: 0
    val left = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val right = Seq(1L, 1L, 2L, 2L, 2L, 2L, 4L).toDF("k2")
    val got = Skew.joinFanoutAudit(left, "k", right, "k2", topN = 10)
      .select("key", "n_left", "n_right", "contrib", "est_total", "share_pm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 6L, 10L, 600L),
      (2L, 1L, 4L, 4L, 10L, 400L),
      (3L, 1L, 0L, 0L, 10L, 0L),
      (4L, 0L, 1L, 0L, 10L, 0L)), s"got $got")
    // est_total matches the real join size
    assert(left.join(right, left("k") === right("k2")).count() == 10L)
    // topN truncates after the (contrib desc, key asc) order
    assert(Skew.joinFanoutAudit(left, "k", right, "k2", topN = 1)
      .select("key").as[Long].collect().toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      Skew.joinFanoutAudit(left, "k", right, "k2", 0)
    }
  }

  test("saltPlan/saltPlanLoads: hand factors, exact share split, " +
      "md5-mirrored partition loads with zero-filled spine, guards") {
    import java.security.MessageDigest
    def bucket(v: String, p: Int): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % p
    }
    val df = (Seq.fill(7)("a") ++ Seq.fill(2)("b")).toDF("k")
    val plan = Skew.saltPlan(df, "k", maxRows = 3L)
      .as[(String, Long, Long)].collect().toSet
    assert(plan == Set(("a", 7L, 3L), ("b", 2L, 1L)), s"got $plan")
    // shares: a → [3, 2, 2] (7 div 3 = 2, first 7 mod 3 = 1 replica +1);
    // b (cold) → one replica "b#0" carrying all 2. Every key re-buckets
    // under "k#i" — that IS the salted shuffle's hash input.
    val wantBefore = Seq("a" -> 7L, "b" -> 2L)
      .groupMapReduce { case (k, _) => bucket(k, 4) }(_._2)(_ + _)
    val wantAfter = Seq("a#0" -> 3L, "a#1" -> 2L, "a#2" -> 2L, "b#0" -> 2L)
      .groupMapReduce { case (k, _) => bucket(k, 4) }(_._2)(_ + _)
    val want = (0 until 4).map(p => (p.toLong,
      wantBefore.getOrElse(p.toLong, 0L),
      wantAfter.getOrElse(p.toLong, 0L))).toSet
    val got = Skew.saltPlanLoads(df, "k", partitions = 4, maxRows = 3L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"got $got want $want")
    // load conservation: both columns sum to the row count
    assert(got.toSeq.map(_._2).sum == 9L && got.toSeq.map(_._3).sum == 9L)
    intercept[IllegalArgumentException] { Skew.saltPlan(df, "k", 0L) }
    intercept[IllegalArgumentException] {
      Skew.saltPlanLoads(df, "k", partitions = 1, maxRows = 3L)
    }
  }
}
