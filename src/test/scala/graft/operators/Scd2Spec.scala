package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SCD2 contracts: fromLog interval/version semantics, and the merge
  * theorem — applyChanges(fromLog(base), delta) is row-identical to
  * fromLog(base ∪ delta) for ANY time-split of a log, including keys
  * present only in one half.
  */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def log = Seq(
    // key 1: three versions
    (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), (1L, 30L, 102L, 3.0),
    // key 2: one version, never changed
    (2L, 5L, 103L, 9.0),
    // key 3: tie on time — event_id breaks it
    (3L, 40L, 105L, 5.0), (3L, 40L, 104L, 4.0)
  ).toDF("k", "tus", "event_id", "value")

  test("fromLog: versions are 1-based per key, intervals half-open, last version open") {
    val h = Scd2.fromLog(log, "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().sortBy(r => (r._1, r._2))
    assert(h.toSeq == Seq(
      (1L, 1L, 1.0, 10L, Some(20L)),
      (1L, 2L, 2.0, 20L, Some(30L)),
      (1L, 3L, 3.0, 30L, None),
      (2L, 1L, 9.0, 5L, None),
      (3L, 1L, 4.0, 40L, Some(40L)), // event_id 104 sorts first at equal time
      (3L, 2L, 5.0, 40L, None)))
  }

  test("merge theorem: applyChanges(fromLog(base), delta) == fromLog(full) at every cutoff") {
    val full = Scd2.fromLog(log, "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    // Every cutoff between events — including ones that put whole keys
    // entirely in base (key 2 at cut>=5) or entirely in delta (key 3 at
    // cut<40).
    for (cut <- Seq(0L, 5L, 10L, 20L, 25L, 30L, 39L, 40L, 50L)) {
      val base = log.filter(col("tus") <= cut)
      val delta = log.filter(col("tus") > cut)
      val merged = Scd2
        .applyChanges(
          Scd2.fromLog(base, "k", "tus", "event_id", Seq("value")),
          delta, "k", "tus", "event_id", Seq("value"))
        .select("k", "version", "value", "valid_from", "valid_to")
        .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
      assert(merged == full, s"cutoff $cut")
    }
  }

  test("applyChanges: out-of-order delta fails loudly instead of stacking bad versions") {
    // base: key 1 at t=10 and t=30 (open version starts at 30);
    // delta: key 1 at t=20 — older than the open version.
    val base = log.filter($"k" === 1L && $"tus" =!= 20L)
    val delta = Seq((1L, 20L, 110L, 7.0)).toDF("k", "tus", "event_id", "value")
    val ex = intercept[Exception] {
      Scd2.applyChanges(
        Scd2.fromLog(base, "k", "tus", "event_id", Seq("value")),
        delta, "k", "tus", "event_id", Seq("value")).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("out-of-order delta"), s"unexpected error: $ex")
  }

  test("applyChangesAnyOrder: interleaved delta == full recompute, untouched keys pass through") {
    // delta interleaves inside key 1's recorded history and adds a new
    // key 4; keys 2 and 3 are untouched and must pass through as-is.
    val delta = Seq(
      (1L, 15L, 110L, 1.5), (1L, 25L, 111L, 2.5),
      (4L, 1L, 112L, 8.0)
    ).toDF("k", "tus", "event_id", "value")
    val full = Scd2.fromLog(log.unionByName(delta), "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    val merged = Scd2.applyChangesAnyOrder(
      Scd2.fromLog(log, "k", "tus", "event_id", Seq("value")),
      delta, "k", "tus", "event_id", Seq("value"))
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    assert(merged == full)
  }

  test("applyChangesAnyOrder: in-order deltas agree with applyChanges") {
    for (cut <- Seq(5L, 20L, 39L)) {
      val base = log.filter(col("tus") <= cut)
      val delta = log.filter(col("tus") > cut)
      val hist = Scd2.fromLog(base, "k", "tus", "event_id", Seq("value"))
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("k", "version", "value", "valid_from", "valid_to")
        .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
      assert(
        rows(Scd2.applyChangesAnyOrder(hist, delta, "k", "tus", "event_id", Seq("value"))) ==
          rows(Scd2.applyChanges(hist, delta, "k", "tus", "event_id", Seq("value"))),
        s"cutoff $cut")
    }
  }

  test("applyChangesAnyOrder: folding several out-of-order generations == one-shot rebuild") {
    // 60 events over 5 keys, split into 4 generations BY EVENT ID, so
    // every generation interleaves with all recorded history in event
    // time; each fold step must land on fromLog of everything seen.
    val events = (0L until 60L).map { e =>
      (e % 5, (e * 37) % 101, 1000L + e, e.toDouble)
    }.toDF("k", "tus", "event_id", "value")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version", "value", "valid_from", "valid_to")
      .as[(Long, Long, Double, Long, Option[Long])].collect().toSet
    val gens = 4
    def gen(i: Int) = events.filter(col("event_id") % gens === i)
    var hist = Scd2.fromLog(gen(0), "k", "tus", "event_id", Seq("value"))
    (1 until gens).foreach { i =>
      hist = Scd2.applyChangesAnyOrder(hist, gen(i), "k", "tus", "event_id", Seq("value"))
      val seen = events.filter(col("event_id") % gens <= i)
      assert(rows(hist) == rows(Scd2.fromLog(seen, "k", "tus", "event_id", Seq("value"))),
        s"after generation $i")
    }
    assert(rows(hist).size == 60)
  }
}
