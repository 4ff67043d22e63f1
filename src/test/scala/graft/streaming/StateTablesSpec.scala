package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The state-table discipline's durability contract: a fresh catalog
  * (new JVM, default in-memory metastore) must RE-ADOPT state data a
  * previous JVM left in the warehouse — not wipe it. A wiped state
  * table while the stream checkpoint still skips completed batches is
  * the one combination that over-admits.
  */
class StateTablesSpec extends SparkSpec {
  import spark.implicits._

  test("ensure() adopts pre-existing partition data instead of deleting it") {
    val name = s"adopt_${System.nanoTime()}"
    // a "previous JVM": state data already in the warehouse location,
    // no catalog entry for it
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase).toString
    Seq(("news", 120L)).toDF("source", "seen_tokens")
      .write.parquet(s"$loc/batch=0")
    Seq(("news", 80L), ("web", 44L)).toDF("source", "seen_tokens")
      .write.parquet(s"$loc/batch=1")
    assert(!spark.catalog.tableExists(name))

    StateTables.ensure(spark, name, "source STRING, seen_tokens BIGINT, batch BIGINT")

    val rows = spark.table(name)
      .select($"source", $"seen_tokens", $"batch")
      .orderBy($"batch", $"source")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows == Seq(("news", 120L, 0L), ("news", 80L, 1L), ("web", 44L, 1L)),
      s"adopted state wrong: $rows")

    // and the base computation a replayed batch would run sees history
    val base = spark.table(name).where($"batch" < 1)
      .groupBy($"source").agg(sum($"seen_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    assert(base == Map("news" -> 120L))
  }

  private def fresh(prefix: String): String = {
    val name = s"${prefix}_${System.nanoTime()}"
    StateTables.ensure(spark, name, "source STRING, seen_tokens BIGINT, batch BIGINT")
    name
  }

  private def rowsOf(name: String): Seq[(String, Long, Long)] =
    spark.table(name).select($"source", $"seen_tokens", $"batch")
      .orderBy($"batch", $"source").as[(String, Long, Long)].collect().toSeq

  test("claim replaces only its own batch partition") {
    val name = fresh("claim_own")
    StateTables.claim(name, 0L, Seq(("news", 10L)).toDF("source", "seen_tokens"))
    StateTables.claim(name, 1L, Seq(("web", 20L)).toDF("source", "seen_tokens"))
    // columns are taken by name, extra ones ignored
    StateTables.claim(name, 1L,
      Seq((7, 30L, "code")).toDF("extra", "seen_tokens", "source"))
    assert(rowsOf(name) == Seq(("news", 10L, 0L), ("code", 30L, 1L)))
  }

  test("a replayed claim is byte-identical") {
    val name = fresh("claim_replay")
    val rows = Seq(("news", 10L), ("web", 20L), ("code", 5L)).toDF("source", "seen_tokens")
    val part = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${name.toLowerCase}/batch=3")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def contents(): Seq[Seq[Byte]] =
      fs.listStatus(part).filter(_.getPath.getName.startsWith("part-")).toSeq.map { f =>
        val in = fs.open(f.getPath)
        try in.readAllBytes().toSeq finally in.close()
      }.sortBy(_.hashCode)
    StateTables.claim(name, 3L, rows)
    val first = contents()
    StateTables.claim(name, 3L, rows)
    assert(first.nonEmpty)
    assert(contents() == first)
    assert(rowsOf(name).map(_._3).distinct == Seq(3L))
  }

  test("before(id) leaves out id and every later batch") {
    val name = fresh("before")
    (0L to 3L).foreach(b =>
      StateTables.claim(name, b, Seq(("news", 10L * (b + 1))).toDF("source", "seen_tokens")))
    val seen = StateTables.before(spark, name, 2L).select($"batch").as[Long]
      .collect().sorted.toSeq
    assert(seen == Seq(0L, 1L))
    assert(StateTables.before(spark, name, 0L).isEmpty)
    assert(StateTables.latest(StateTables.before(spark, name, 3L))
      .select($"seen_tokens").as[Long].collect().toSeq == Seq(30L))
  }

  test("latest on a fresh table, and latestRebuild on a missing dir, find no generation") {
    val name = fresh("latest_fresh")
    assert(StateTables.latest(spark.table(name)).isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("rebuilds")
    assert(StateTables.latestRebuild(spark, dir.resolve("absent").toString) == -1L)
    Seq(0, 2, 10).foreach(g =>
      java.nio.file.Files.createDirectories(dir.resolve(s"gen/rebuild=$g")))
    assert(StateTables.latestRebuild(spark, dir.resolve("gen").toString) == 10L)
  }
}
