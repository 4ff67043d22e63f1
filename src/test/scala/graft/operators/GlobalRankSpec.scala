package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the two-pass global rank ≡ the single-window `row_number` it
  * replaces — including with duplicate order keys (total order via the
  * id tie-break), skewed keys, and more partitions than rows.
  */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  test("two-pass rank equals the single-window row_number") {
    // Skewed duplicate keys: "a" dominates, ties broken by id.
    val df = (1L to 500L).map(i => (i, if (i % 7 == 0) s"k$i" else "a"))
      .toDF("id", "key")
    val want = df
      .withColumn("rk", row_number().over(
        Window.orderBy(col("key"), col("id"))).cast("long"))
      .orderBy(col("id")).as[(Long, String, Long)].collect().toSeq
    val got = GlobalRank
      .withGlobalRank(df, "rk", nParts = 13, col("key"), col("id"))
      .select(col("id"), col("key"), col("rk"))
      .orderBy(col("id")).as[(Long, String, Long)].collect().toSeq
    assert(got == want)
  }

  test("more partitions than rows (empty ranges) still ranks densely") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "key")
    val got = GlobalRank
      .withGlobalRank(df, "rk", nParts = 16, col("key"), col("id"))
      .select(col("id"), col("rk")).orderBy(col("id"))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("two-pass ntile equals the single-window NTILE, remainder and tiny totals included") {
    // 100 % 3 = 1 (one wide bucket), 99 % 9 = 0, 5 < 7 (fewer rows
    // than buckets), 100 % 7 = 2 — every NTILE remainder class.
    for ((rows, n) <- Seq((100, 3), (99, 9), (5, 7), (100, 7))) {
      val df = (1 to rows).map(i => (i.toLong, (i * 37 % rows).toLong))
        .toDF("id", "key")
      val want = df
        .withColumn("b", ntile(n).over(
          Window.orderBy(col("key"), col("id"))).cast("long"))
        .orderBy(col("id")).select(col("id"), col("b"))
        .as[(Long, Long)].collect().toSeq
      val got = GlobalRank
        .withGlobalNtile(df, "b", n, nParts = 13, col("key"), col("id"))
        .orderBy(col("id")).select(col("id"), col("b"))
        .as[(Long, Long)].collect().toSeq
      assert(got == want, s"ntile($n) over $rows rows")
    }
  }

  test("driver finish ≡ two-pass ≡ window on rank, ntile and prefix sum") {
    val df = (1L to 400L)
      .map(i => (i, if (i % 5 == 0) s"k$i" else "hot", i % 11 + 1))
      .toDF("id", "key", "v")
    // a driver bound at the row count takes the driver finish, one less
    // the two-pass
    def rank(bound: Long) =
      GlobalRank.rankCountedWithin(bound, df, "rk", 13, col("key"), col("id"))._1
        .orderBy(col("id")).select(col("id"), col("rk"))
        .as[(Long, Long)].collect().toSeq
    def nt(bound: Long) =
      GlobalRank.ntileWithin(bound, df, "b", 7, 13, col("key"), col("id"))
        .orderBy(col("id")).select(col("id"), col("b"))
        .as[(Long, Long)].collect().toSeq
    def ps(bound: Long) = GlobalRank.prefixSumWithin(bound, df, "cum", col("v"), 13,
      col("key").desc, col("id"))
      .orderBy(col("id")).select(col("id"), col("cum"))
      .as[(Long, Long)].collect().toSeq
    val (dR, dN, dP) = (rank(400L), nt(400L), ps(400L))
    val (tR, tN, tP) = (rank(399L), nt(399L), ps(399L))
    assert(dR == tR && dN == tN && dP == tP)
    assert(dR == GlobalRank.withGlobalRank(df, "rk", 13, col("key"), col("id"))
      .orderBy(col("id")).select(col("id"), col("rk")).as[(Long, Long)].collect().toSeq)
  }

  test("driver prefix sum keeps the window form's null semantics (null until first value)") {
    def nullable(v: Option[Long]) = v.map(java.lang.Long.valueOf).orNull
    def check(df: org.apache.spark.sql.DataFrame, nParts: Int): Unit = {
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.orderBy(col("id")).select(col("id"), col("cum"))
          .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq
      val want = rows(df.withColumn("cum", sum(col("v")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      val n = df.count()
      assert(rows(GlobalRank.prefixSumWithin(n, df, "cum", col("v"), nParts, col("id"))) == want,
        "driver finish")
      assert(rows(GlobalRank.prefixSumWithin(n - 1, df, "cum", col("v"), nParts, col("id"))) ==
        want, "two-pass")
    }
    check(Seq[(Long, Option[Long])]((1L, None), (2L, None), (3L, Some(5L)), (4L, None),
      (5L, Some(2L))).map { case (i, v) => (i, nullable(v)) }.toDF("id", "v"), nParts = 4)
    // Null-headed partitions after valued ones: ids 11–30 carry no
    // value, so at ~10 rows per range partition some partition starts
    // inside that run after earlier partitions summed values; its rows
    // must carry the running sum so far, not null. The last input also
    // leads with nulls, which stay null on both finishes.
    check((1L to 40L).map { i =>
      (i, nullable(if (i > 10 && i <= 30) None else Some(i)))
    }.toDF("id", "v"), nParts = 4)
    check((1L to 40L).map { i =>
      (i, nullable(if (i <= 15 || (i > 20 && i <= 35)) None else Some(i)))
    }.toDF("id", "v"), nParts = 4)
  }

  test("two-pass prefix sum equals the single-window running sum under skewed duplicates") {
    val df = (1L to 500L)
      .map(i => (i, if (i % 7 == 0) s"k$i" else "a", i % 13 + 1))
      .toDF("id", "key", "v")
    val want = df
      .withColumn("cum", sum(col("v")).over(
        Window.orderBy(col("key").desc, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("id")).select(col("id"), col("cum"))
      .as[(Long, Long)].collect().toSeq
    val got = GlobalRank
      .withGlobalPrefixSum(df, "cum", col("v"), nParts = 13,
        col("key").desc, col("id"))
      .orderBy(col("id")).select(col("id"), col("cum"))
      .as[(Long, Long)].collect().toSeq
    assert(got == want)
  }
}
