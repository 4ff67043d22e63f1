package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the global rank, NTILE and prefix sums ≡ the single-window
  * forms they replace — including with duplicate order keys (total
  * order via the id tie-break), skewed keys, more partitions than rows,
  * empty and all-null inputs — on BOTH one-shot finishes: a
  * `GlobalRank` byte budget of `Long.MaxValue` forces the driver finish,
  * one of -1 the two-pass (which runs at the session's shuffle width).
  * The switch itself is pinned at the byte bound through the public
  * entries.
  */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private val finishes = Seq("driver" -> Long.MaxValue, "two-pass" -> -1L)

  /** `body` with the `GlobalRank` switch's byte budget at `bound`. */
  private def within[T](bound: Long)(body: => T): T =
    DriverBound.withBudget("GlobalRank" -> bound)(body)

  /** The byte budget that holds exactly `n` rows of `df`. */
  private def rowsOf(n: Long, df: DataFrame): Long = n * GlobalRank.finishRowBytes(df.schema)

  private def rank(bound: Long, df: DataFrame, ord: Column*): DataFrame =
    within(bound)(GlobalRank.withGlobalRank(df, "rk", ord: _*)._1)

  private def bucket(bound: Long, df: DataFrame, n: Int, ord: Column*): DataFrame =
    within(bound)(GlobalRank.withGlobalNtile(df, "b", n, ord: _*))

  private def prefixSum(bound: Long, df: DataFrame, value: Column, ord: Column*): DataFrame =
    within(bound)(GlobalRank.withGlobalPrefixSum(df, "cum", value, ord: _*))

  /** `(id, out)` pairs by id; a null `out` reads as None. */
  private def byId(df: DataFrame, out: String): Seq[(Long, Option[Long])] =
    df.orderBy(col("id")).select(col("id"), col(out)).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq

  private def withShuffleWidth[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case w: WindowNode => w }.nonEmpty

  test("two-pass rank equals the single-window row_number") {
    // Skewed duplicate keys: "a" dominates, ties broken by id.
    val df = (1L to 500L).map(i => (i, if (i % 7 == 0) s"k$i" else "a"))
      .toDF("id", "key")
    val want = byId(df.withColumn("rk", row_number().over(
      Window.orderBy(col("key"), col("id"))).cast("long")), "rk")
    withShuffleWidth(13) {
      for ((finish, bound) <- finishes)
        assert(byId(rank(bound, df, col("key"), col("id")), "rk") == want, finish)
    }
  }

  test("more partitions than rows (empty ranges) still ranks densely") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "key")
    withShuffleWidth(16) {
      for ((finish, bound) <- finishes)
        assert(byId(rank(bound, df, col("key"), col("id")), "rk") ==
          Seq((1L, Some(1L)), (2L, Some(2L)), (3L, Some(3L))), finish)
      assert(byId(GlobalRank.withGlobalPrefixMaxExcl(df.withColumn("v", col("id")), "pm",
        col("v"), 16, col("key"), col("id")), "pm") ==
        Seq((1L, None), (2L, Some(1L)), (3L, Some(2L))), "prefix max")
    }
  }

  test("two-pass ntile equals the single-window NTILE, remainder and tiny totals included") {
    // 100 % 3 = 1 (one wide bucket), 99 % 9 = 0, 5 < 7 (fewer rows
    // than buckets), 100 % 7 = 2 — every NTILE remainder class.
    withShuffleWidth(13) {
      for ((rows, n) <- Seq((100, 3), (99, 9), (5, 7), (100, 7))) {
        val df = (1 to rows).map(i => (i.toLong, (i * 37 % rows).toLong))
          .toDF("id", "key")
        val want = byId(df.withColumn("b", ntile(n).over(
          Window.orderBy(col("key"), col("id"))).cast("long")), "b")
        for ((finish, bound) <- finishes)
          assert(byId(bucket(bound, df, n, col("key"), col("id")),
            "b") == want, s"$finish ntile($n) over $rows rows")
      }
    }
  }

  test("driver finish ≡ two-pass ≡ window on rank, ntile and prefix sum") {
    val df = (1L to 400L)
      .map(i => (i, if (i % 5 == 0) s"k$i" else "hot", i % 11 + 1))
      .toDF("id", "key", "v")
    // a byte budget at the rows' bytes takes the driver finish, one
    // byte less the two-pass
    def rk(bound: Long) = byId(rank(bound, df, col("key"), col("id")), "rk")
    def nt(bound: Long) = byId(bucket(bound, df, 7, col("key"), col("id")), "b")
    def ps(bound: Long) = byId(prefixSum(bound, df, col("v"), col("key").desc, col("id")), "cum")
    val at = rowsOf(400L, df)
    withShuffleWidth(13) {
      assert(rk(at) == rk(at - 1) && nt(at) == nt(at - 1) && ps(at) == ps(at - 1))
    }
    assert(rk(at) == byId(GlobalRank.withGlobalRank(df, "rk", col("key"), col("id"))._1, "rk"))
  }

  test("driver prefix sum keeps the window form's null semantics (null until first value)") {
    def nullable(v: Option[Long]) = v.map(java.lang.Long.valueOf).orNull
    def check(df: DataFrame): Unit = {
      val want = byId(df.withColumn("cum", sum(col("v")).over(
        Window.orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))), "cum")
      val at = rowsOf(df.count(), df)
      assert(byId(prefixSum(at, df, col("v"), col("id")), "cum") == want, "driver finish")
      assert(byId(prefixSum(at - 1, df, col("v"), col("id")), "cum") == want, "two-pass")
    }
    withShuffleWidth(4) {
      check(Seq[(Long, Option[Long])]((1L, None), (2L, None), (3L, Some(5L)), (4L, None),
        (5L, Some(2L))).map { case (i, v) => (i, nullable(v)) }.toDF("id", "v"))
      // Null-headed partitions after valued ones: ids 11–30 carry no
      // value, so at ~10 rows per range partition some partition starts
      // inside that run after earlier partitions summed values; its rows
      // must carry the running sum so far, not null. The last input also
      // leads with nulls, which stay null on both finishes.
      check((1L to 40L).map { i =>
        (i, nullable(if (i > 10 && i <= 30) None else Some(i)))
      }.toDF("id", "v"))
      check((1L to 40L).map { i =>
        (i, nullable(if (i <= 15 || (i > 20 && i <= 35)) None else Some(i)))
      }.toDF("id", "v"))
    }
  }

  test("two-pass prefix sum equals the single-window running sum under skewed duplicates") {
    val df = (1L to 500L)
      .map(i => (i, if (i % 7 == 0) s"k$i" else "a", i % 13 + 1))
      .toDF("id", "key", "v")
    val want = byId(df.withColumn("cum", sum(col("v")).over(
      Window.orderBy(col("key").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))), "cum")
    withShuffleWidth(13) {
      for ((finish, bound) <- finishes)
        assert(byId(prefixSum(bound, df, col("v"), col("key").desc, col("id")), "cum") == want,
          finish)
      val (staged, extra, token) = GlobalRank.withGlobalPrefixSumStaged(df, "cum", col("v"), 13,
        Some(sum(when(col("v") > 6L, 1L))), col("key").desc, col("id"))
      assert(byId(staged, "cum") == want, "staged")
      assert(extra == (1L to 500L).count(_ % 13 + 1 > 6), "staged extra total")
      token.free()
    }
  }

  test("the public entries take the driver finish at the byte bound and the two-pass one over") {
    // the budget that holds exactly 65,536 rows
    val at = rowsOf(65536L, spark.range(1).select(col("id"), col("id").as("key")))
    for (n <- Seq(65536L, 65537L)) within(at) {
      // 7919 is odd and prime, so `key` permutes 0 until n for both
      // sizes: the rank under (key) is key + 1, the prefix sum of key
      // is key (key + 1) / 2, and NTILE(3) puts the first ceil(n/3)
      // ranks in bucket 1.
      val df = spark.range(n).select(col("id"), (col("id") * 7919L % n).as("key"))
      val (ranked, total) = GlobalRank.withGlobalRank(df, "rk", col("key"))
      val summed = GlobalRank.withGlobalPrefixSum(df, "cum", col("key"), col("key"))
      val bucketed = GlobalRank.withGlobalNtile(df, "b", 3, col("key"))
      val twoPass = n > 65536L
      assert(total == n)
      for ((out, name) <- Seq(ranked -> "rank", summed -> "prefix sum", bucketed -> "ntile"))
        assert(hasWindow(out) == twoPass, s"$name over $n rows took the wrong finish")
      assert(ranked.filter(col("rk") =!= col("key") + 1).count() == 0 && ranked.count() == n)
      assert(summed.filter(col("cum") =!= col("key") * (col("key") + 1) / 2).count() == 0 &&
        summed.count() == n)
      val wide = (n + 2) / 3
      assert(bucketed.filter(col("key") < wide && col("b") =!= 1L).count() == 0 &&
        bucketed.filter(col("b") === 1L).count() == wide)
    }
  }

  test("empty input: rank, ntile and prefix sum return no rows and keep their schema") {
    val df = Seq.empty[(Long, Long)].toDF("id", "v")
    for ((finish, bound) <- finishes) {
      val (ranked, total) = within(bound)(GlobalRank.withGlobalRank(df, "rk", col("id")))
      val nt = bucket(bound, df, 3, col("id"))
      val ps = prefixSum(bound, df, col("v"), col("id"))
      assert(total == 0L && ranked.count() == 0L && nt.count() == 0L && ps.count() == 0L, finish)
      assert(ranked.schema == df.schema.add("rk", "long", nullable = false), finish)
      assert(nt.schema("b").dataType.typeName == "long", finish)
      assert(ps.schema == df.schema.add("cum", "long", nullable = true), finish)
    }
    assert(GlobalRank.withGlobalRank(df, "rk", col("id"))._2 == 0L)
    assert(GlobalRank.withGlobalNtile(df, "b", 3, col("id")).count() == 0L)
    assert(GlobalRank.withGlobalPrefixSum(df, "cum", col("v"), col("id")).count() == 0L)
    val pm = GlobalRank.withGlobalPrefixMaxExcl(df, "pm", col("v"), 4, col("id"))
    assert(pm.count() == 0L && pm.schema("pm").nullable)
  }

  test("all-null values: the prefix sum and the exclusive prefix max stay null") {
    val df = (1L to 40L).map(i => (i, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
    val allNull = (1L to 40L).map(i => (i, Option.empty[Long]))
    withShuffleWidth(4) {
      for ((finish, bound) <- finishes) {
        val ps = prefixSum(bound, df, col("v"), col("id"))
        assert(byId(ps, "cum") == allNull, finish)
        assert(ps.schema("cum").nullable, finish)
      }
    }
    val pm = GlobalRank.withGlobalPrefixMaxExcl(df, "pm", col("v"), 4, col("id"))
    assert(byId(pm, "pm") == allNull)
    assert(pm.schema("pm").nullable)
  }
}
