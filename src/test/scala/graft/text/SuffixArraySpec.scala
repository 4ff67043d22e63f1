package graft.text

import graft.SparkSpec
import graft.operators.DriverBound
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Pins the prefix-doubling suffix array against a literal suffix sort
  * of the SEP-joined corpus string: exact ranks on plain text, with
  * duplicated documents (long repeats — many doubling rounds), across
  * document fences, on non-BMP codepoints (positions are codepoints,
  * never UTF-16 units), and the fixed-window duplicated-prefix groups
  * against a brute-force window census.
  */
class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Reference: sort all suffixes of docs.sorted.mkString(SEP) + SEP,
    * return (doc_id, pos, gid, sa_rank) for text positions.
    */
  private def bruteSa(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    val sep = new String(Character.toChars(SuffixArray.Sep))
    val s = docs.sortBy(_._1).map(_._2).mkString("", sep, sep)
    val cps = s.codePoints().toArray
    val n = cps.length
    // rank of each position's suffix under codepoint-array comparison
    val order = (0 until n).sortWith { (a, b) =>
      var i = 0
      while (a + i < n && b + i < n && cps(a + i) == cps(b + i)) i += 1
      if (a + i == n) true else if (b + i == n) false else cps(a + i) < cps(b + i)
    }
    val rank = new Array[Long](n)
    order.zipWithIndex.foreach { case (p, r) => rank(p) = r + 1L }
    // map gid -> (doc, pos)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    var gid = 1L
    docs.sortBy(_._1).foreach { case (id, t) =>
      val len = t.codePointCount(0, t.length)
      (1L to len).foreach { p => out += ((id, p, gid + p - 1, rank((gid + p - 2).toInt))) }
      gid += len + 1
    }
    out.toSeq
  }

  private def spark2(docs: Seq[(Long, String)]) =
    sortedSa(SuffixArray.build(docs.toDF("doc_id", "text"), "doc_id", "text"))

  /** [[spark2]] with the doubling loop's switches at the given byte budgets. */
  private def spark2At(docs: Seq[(Long, String)], budgets: (String, Long)*) =
    DriverBound.withBudget(budgets: _*)(spark2(docs))

  private def sortedSa(sa: org.apache.spark.sql.DataFrame) =
    sa.orderBy($"doc_id", $"pos").as[(Long, Long, Long, Long)].collect().toSeq

  test("suffix array equals the literal suffix sort (plain text across fences)") {
    val docs = Seq((0L, "banana"), (1L, "bandana"), (2L, "an"))
    assert(spark2(docs) == bruteSa(docs).sortBy(r => (r._1, r._2)))
  }

  test("duplicated documents (corpus-length repeats) still converge to exact ranks") {
    // identical docs force deep doubling: suffix pairs agree until the
    // corpus tail differentiates them
    val docs = Seq((0L, "the quick brown fox jumps"), (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"), (3L, "unrelated tail"))
    assert(spark2(docs) == bruteSa(docs).sortBy(r => (r._1, r._2)))
  }

  test("non-BMP codepoints count as one position and order by codepoint") {
    val docs = Seq((0L, "a😀b"), (1L, "a😁"), (2L, "ab"))
    val got = spark2(docs)
    assert(got == bruteSa(docs).sortBy(r => (r._1, r._2)))
    // the emoji is ONE position: doc 0 has 3 positions, not 4
    assert(got.count(_._1 == 0L) == 3)
  }

  test("prefixGroups at a power-of-two window equals the brute-force window census") {
    val docs = Seq(
      (0L, "abcdabcdabcd xyz"), (1L, "abcdabcd pqr"), (2L, "no repeats here!"))
    val sep = new String(Character.toChars(SuffixArray.Sep))
    val s = docs.map(_._2).mkString("", sep, sep)
    val cps = s.codePoints().toArray
    val windows = (0 until cps.length)
      .map(i => cps.slice(i, math.min(cps.length, i + 4)).toSeq)
    val counts = windows.groupBy(identity).view.mapValues(_.size).toMap
    val got = SuffixArray
      .prefixGroups(docs.toDF("doc_id", "text"), "doc_id", "text", prefixLen = 4)
      .orderBy($"doc_id", $"pos")
      .as[(Long, Long, Long, Long, Long)].collect()
    // group size per position == brute-force count of its 4-cp window
    var gidIdx = 0
    docs.foreach { case (id, t) =>
      val len = t.codePointCount(0, t.length)
      (1 to len.toInt).foreach { p =>
        val row = got.find(r => r._1 == id && r._2 == p).get
        assert(row._5 == counts(windows(gidIdx)).toLong,
          s"doc $id pos $p: got ${row._5}, want ${counts(windows(gidIdx))}")
        gidIdx += 1
      }
      gidIdx += 1 // the SEP position
    }
    // and groups partition consistently: same grp ⇔ same window
    val byGrp = got.groupBy(_._4).values
    byGrp.foreach { rows =>
      val wins = rows.map(r => windows((r._3 - 1).toInt)).distinct
      assert(wins.size == 1, s"group mixes windows: $wins")
    }
    assert(got.exists(_._5 > 1) && got.exists(_._5 == 1L))
  }

  /** Brute LCP per SA-adjacent pair from the literal sort: (sa_rank of
    * the lower suffix, gid1, gid2, lcp) over ALL positions incl SEPs.
    */
  private def bruteLcp(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    val sep = new String(Character.toChars(SuffixArray.Sep))
    val s = docs.sortBy(_._1).map(_._2).mkString("", sep, sep)
    val cps = s.codePoints().toArray
    val n = cps.length
    val order = (0 until n).sortWith { (a, b) =>
      var i = 0
      while (a + i < n && b + i < n && cps(a + i) == cps(b + i)) i += 1
      if (a + i == n) true else if (b + i == n) false else cps(a + i) < cps(b + i)
    }
    (0 until n - 1).map { r =>
      val (a, b) = (order(r), order(r + 1))
      var i = 0
      while (a + i < n && b + i < n && cps(a + i) == cps(b + i)) i += 1
      (r + 1L, a + 1L, b + 1L, i.toLong)
    }
  }

  test("adjacent-pair LCP by level descent equals the brute common-prefix scan") {
    val docs = Seq((0L, "banana band bandana"), (1L, "a banana band"),
      (2L, "xyzzy"), (3L, "banana band bandana")) // doc 3 duplicates doc 0: long LCPs
    val ix = SuffixArray.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      retainLevels = true)
    val got = SuffixArray.lcpAdjacent(ix)
      .orderBy($"sa_rank").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == bruteLcp(docs))
    assert(got.exists(_._4 >= 10L)) // the duplicated doc really produces long LCPs
  }

  /** Brute span cut: covered gids = union of [gid, gid + lcp) for both
    * sides of every adjacent pair with lcp >= L; each document keeps
    * its uncovered codepoints. Null text stays null and is never cut.
    */
  private def bruteCut(docs: Seq[(Long, String)], L: Long): Seq[(Long, String, Long)] = {
    val covered = scala.collection.mutable.Set[Long]()
    bruteLcp(docs.map { case (id, t) => (id, Option(t).getOrElse("")) })
      .foreach { case (_, g1, g2, lcp) =>
        if (lcp >= L) {
          (g1 until g1 + lcp).foreach(covered += _)
          (g2 until g2 + lcp).foreach(covered += _)
        }
      }
    var gid = 1L
    docs.sortBy(_._1).map { case (id, t) =>
      val tc = Option(t).getOrElse("").codePoints().toArray
      val kept = tc.zipWithIndex.collect {
        case (c, i) if !covered.contains(gid + i) => c
      }
      val removed = tc.length - kept.length
      gid += tc.length + 1
      (id, if (removed == 0) t else new String(kept.flatMap(Character.toChars)),
        removed.toLong)
    }
  }

  /** Runs span removal at `budget`; returns its rows (by id), schema
    * and the path that ran.
    */
  private def cutAt(df: org.apache.spark.sql.DataFrame, L: Long, budget: Long) = {
    val out = DriverBound.withBudget("SuffixArray.removeDuplicatedSpans" -> budget)(
      SuffixArray.removeDuplicatedSpans(df, "doc_id", "text", L))
    // the driver path's rows are a local relation
    val path =
      if (out.queryExecution.analyzed.isInstanceOf[LocalRelation]) "driver" else "distributed"
    (out.orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq, out.schema, path)
  }

  /** Both paths — driver (unbounded budget) and distributed (negative
    * budget) — equal the brute cut and each other, schema included.
    */
  private def assertBothPaths(docs: Seq[(Long, String)], L: Long): Seq[(Long, String, Long)] = {
    val df = docs.toDF("doc_id", "text")
    val (viaDriver, driverSchema, p1) = cutAt(df, L, Long.MaxValue)
    val (viaSpark, sparkSchema, p2) = cutAt(df, L, -1L)
    assert(p1 == "driver" && p2 == "distributed")
    val expected = bruteCut(docs, L)
    assert(viaDriver == expected, "driver path diverged from the brute cut")
    assert(viaSpark == expected, "distributed path diverged from the brute cut")
    assert(driverSchema == sparkSchema, "paths disagree on the schema")
    expected
  }

  test("removeDuplicatedSpans cuts exactly the union of >=L duplicated intervals") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over it"),
      (1L, "AA the quick brown fox jumps ZZ"), // shares a >=20-cp span with 0
      (2L, "completely unique text !!"),
      (3L, "the quick brown fox jumps over it")) // full duplicate of 0
    val L = 12L
    val got = assertBothPaths(docs, L)
    // the public entry takes the driver path at this size
    assert(SuffixArray.removeDuplicatedSpans(
      docs.toDF("doc_id", "text"), "doc_id", "text", minLen = L)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq == got)
    // all three classes live: untouched, partially cut, (near-)fully cut
    assert(got.exists(_._3 == 0L) && got.exists(r => r._3 > 0L && r._2.nonEmpty))
    assert(got.map(_._3).sum > 0)
  }

  test("span removal switches paths exactly at the driver byte budget") {
    val docs = Seq(
      (0L, "the cat sat on the mat, the cat sat on it"),
      (1L, "a cat sat on a mat — the cat sat on it"),
      (2L, "naïve café 😀 unrelated"), (3L, "the cat sat on the mat, the cat"))
    val df = docs.toDF("doc_id", "text")
    val positions = docs.map(d => d._2.codePointCount(0, d._2.length) + 1L).sum
    val bytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val bound = SuffixArray.driverFootprint(positions, bytes)
    val (atBound, atSchema, p1) = cutAt(df, 8L, bound)
    val (over, overSchema, p2) = cutAt(df, 8L, bound - 1L)
    assert(p1 == "driver", "a corpus of exactly the budget runs on the driver")
    assert(p2 == "distributed", "one byte over the budget runs distributed")
    val expected = bruteCut(docs, 8L)
    assert(atBound == expected && over == expected)
    assert(atSchema == overSchema)
    assert(expected.exists(_._3 > 0L))
  }

  test("span removal on degenerate inputs: both paths agree with the brute cut") {
    val L = 6L
    // empty frame
    assert(assertBothPaths(Seq.empty, L).isEmpty)
    // all-null text: null stays null, nothing removed
    assert(assertBothPaths(Seq((0L, null), (1L, null)), L)
      .forall(r => r._2 == null && r._3 == 0L))
    // all-empty text
    assert(assertBothPaths(Seq((0L, ""), (1L, ""), (2L, "")), L)
      .forall(r => r._2 == "" && r._3 == 0L))
    // a single document with an internal repeat
    assert(assertBothPaths(Seq((7L, "abcdefg abcdefg")), L).head._3 > 0L)
    // one hot text x 50: every copy is covered entirely
    val hot = (0L until 50L).map(i => (i, "the same hot text"))
    assert(assertBothPaths(hot, L).forall(r => r._2 == "" && r._3 == 17L))
    // non-BMP codepoints count one position each
    val emoji = assertBothPaths(
      Seq((0L, "x😀😁😂😃😄😅y"), (1L, "z😀😁😂😃😄😅w")), L)
    assert(emoji.map(_._2) == Seq("xy", "zw") && emoji.forall(_._3 == 6L))
    // a repeat that only reaches L by running across a SEP fence
    val fence = assertBothPaths(
      Seq((0L, "p abcd"), (1L, "efg q"), (2L, "r abcd"), (3L, "efg s")), 10L)
    assert(fence.map(_._2) == Seq("p", "q", "r", "s"))
  }

  test("span removal labels its jobs with the path and restores the description") {
    // repartitioned: a local relation would collect without a job
    val docs = Seq((0L, "labelled labelled text"), (1L, "labelled labelled text"))
      .toDF("doc_id", "text").repartition(2)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobDescription("outer")
    try {
      SuffixArray.removeDuplicatedSpans(docs, "doc_id", "text", 8L)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      val deadline = System.nanoTime() + 10000000000L
      def labelled = seen.toArray.map(_.toString)
        .exists(_.startsWith("SuffixArray.removeDuplicatedSpans: path=driver rows="))
      while (!labelled && System.nanoTime() < deadline) Thread.sleep(50)
      assert(labelled, s"no driver-path job description among ${seen.toArray.toSeq}")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("token-space prefixGroups equals the brute window census over code sequences") {
    // three "documents" of integer codes; doc 2 repeats doc 0's prefix
    val seqs = Map(
      0L -> Seq(5L, 7L, 5L, 7L, 5L, 7L, 9L),
      1L -> Seq(11L, 13L, 5L, 7L),
      2L -> Seq(5L, 7L, 5L, 7L, 20L),
      3L -> Seq.empty[Long]) // empty doc: contributes only its fence
    val rows = seqs.toSeq.flatMap { case (id, cs) =>
      cs.zipWithIndex.map { case (c, i) => (id, i + 1L, c) }
    }.toDF("doc_id", "pos", "code")
    val ids = seqs.keys.toSeq.sorted.toDF("doc_id")
    // brute: fenced corpus (sep = 0), all 2-windows, count
    val corpus = seqs.toSeq.sortBy(_._1).flatMap { case (_, cs) => cs :+ 0L }
    val wins = corpus.indices.map(i => corpus.slice(i, math.min(corpus.length, i + 2)))
    val counts = wins.groupBy(identity).view.mapValues(_.size).toMap
    val got = SuffixArray
      .prefixGroupsFromRows(ids, rows, "doc_id", sepCode = 0L, prefixLen = 2)
      .orderBy($"doc_id", $"pos")
      .as[(Long, Long, Long, Long, Long)].collect()
    var gidIdx = 0
    seqs.toSeq.sortBy(_._1).foreach { case (id, cs) =>
      cs.indices.foreach { i =>
        val row = got.find(r => r._1 == id && r._2 == i + 1).get
        assert(row._5 == counts(wins(gidIdx)).toLong,
          s"doc $id pos ${i + 1}: got ${row._5}, want ${counts(wins(gidIdx))}")
        gidIdx += 1
      }
      gidIdx += 1 // fence
    }
    assert(got.exists(_._5 > 1) && got.exists(_._5 == 1L))
    assert(!got.exists(_._1 == 3L)) // empty doc has no text positions
  }

  test("removeDuplicatedTokenSpans cuts exactly the union of >=L duplicated token intervals") {
    // doc 2 embeds doc 0's first six tokens; doc 3 fully duplicates
    // doc 0; doc 1 is unique; doc 4 is empty (fence only)
    val seqs = Map(
      0L -> Seq(5L, 7L, 9L, 5L, 7L, 9L, 11L, 13L),
      1L -> Seq(21L, 22L, 23L, 24L),
      2L -> Seq(31L, 5L, 7L, 9L, 5L, 7L, 9L, 32L),
      3L -> Seq(5L, 7L, 9L, 5L, 7L, 9L, 11L, 13L),
      4L -> Seq.empty[Long])
    val L = 4L
    val rows = seqs.toSeq.flatMap { case (id, cs) =>
      cs.zipWithIndex.map { case (c, i) => (id, i + 1L, c) }
    }.toDF("doc_id", "pos", "code")
    val ids = seqs.keys.toSeq.sorted.toDF("doc_id")
    // brute: fenced code corpus (sep = 0), literal suffix sort, LCP of
    // adjacent pairs, covered = union of both copies' intervals >= L
    val corpus = seqs.toSeq.sortBy(_._1).flatMap { case (_, cs) => cs :+ 0L }
    val n = corpus.length
    val order = (0 until n).sortWith { (a, b) =>
      var i = 0
      while (a + i < n && b + i < n && corpus(a + i) == corpus(b + i)) i += 1
      if (a + i == n) true else if (b + i == n) false else corpus(a + i) < corpus(b + i)
    }
    val covered = scala.collection.mutable.Set[Long]()
    (0 until n - 1).foreach { r =>
      val (a, b) = (order(r), order(r + 1))
      var i = 0
      while (a + i < n && b + i < n && corpus(a + i) == corpus(b + i)) i += 1
      if (i >= L) {
        (a + 1L until a + 1L + i).foreach(covered += _)
        (b + 1L until b + 1L + i).foreach(covered += _)
      }
    }
    val expected = {
      var gid = 1L
      seqs.toSeq.sortBy(_._1).flatMap { case (id, cs) =>
        val kept = cs.zipWithIndex.collect {
          case (c, i) if !covered.contains(gid + i) => (id, i + 1L, c)
        }
        gid += cs.length + 1
        kept
      }
    }
    val got = SuffixArray
      .removeDuplicatedTokenSpans(ids, rows, "doc_id", sepCode = 0L, minLen = L)
      .orderBy($"doc_id", $"pos")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // classes live: an untouched doc, a partially-cut doc, a fully-cut doc
    val keptByDoc = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(keptByDoc.getOrElse(1L, 0) == seqs(1L).size) // untouched
    assert(keptByDoc.getOrElse(2L, 0) > 0 &&
      keptByDoc.getOrElse(2L, 0) < seqs(2L).size) // partial cut
    assert(keptByDoc.getOrElse(0L, 0) == 0 || keptByDoc.getOrElse(3L, 0) == 0) // full cut
  }

  test("prefixLen must be a power of two") {
    intercept[IllegalArgumentException] {
      SuffixArray.prefixGroups(Seq((0L, "abc")).toDF("doc_id", "text"),
        "doc_id", "text", prefixLen = 6)
    }
  }

  test("lake-parquet level store reproduces the in-memory levels exactly") {
    // The at-scale retention mode (the x100 No-space fix): levels
    // written as parquet generations must drive the SAME LCP descent
    // and cut as the block-manager snapshots.
    val docs = Seq((0L, "abracadabra abracadabra"), (1L, "cadabra arb"),
      (2L, "abracadabra"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("sa-levels").toString
    val mem = SuffixArray.buildIndex(docs, "doc_id", "text", retainLevels = true)
    val lake = SuffixArray.buildIndex(docs, "doc_id", "text", retainLevels = true,
      levelStore = Some(store))
    assert(lake.levels.map(_._1) == mem.levels.map(_._1), "level ladder differs")
    // every stored level byte-identical to its in-memory twin
    mem.levels.zip(lake.levels).foreach { case ((m, a), (m2, b)) =>
      assert(m == m2)
      assert(a.orderBy($"gid").collect().toSeq == b.orderBy($"gid").collect().toSeq,
        s"level $m differs between store modes")
    }
    // parquet files actually exist under the store
    assert(new java.io.File(store).listFiles.exists(_.getName.startsWith("level=")),
      "level store wrote no parquet generations")
    val lcpMem = SuffixArray.lcpAdjacent(mem)
      .orderBy($"sa_rank").collect().toSeq
    val lcpLake = SuffixArray.lcpAdjacent(lake)
      .orderBy($"sa_rank").collect().toSeq
    assert(lcpMem == lcpLake, "LCP descent diverged between store modes")
  }

  test("lake-mode LCP descent (per-level store sever) matches the in-memory descent") {
    // The at-scale descent path — join sides pre-partitioned at the
    // derived width, pair frame severed through the level store as a
    // parquet generation per level, superseded step deleted — engages
    // past ~32 M positions; force a small width to pin its output
    // bitwise against the default descent on a gate-sized corpus.
    val docs = Seq((0L, "the cat sat on the mat, the cat sat on it"),
      (1L, "a cat sat on a mat near the cat"), (2L, "something else"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("sa-lakedesc").toString
    val lake = SuffixArray.buildIndex(docs, "doc_id", "text",
      retainLevels = true, levelStore = Some(store))
    val mem = SuffixArray.buildIndex(docs, "doc_id", "text", retainLevels = true)
    val wide = spark.sessionState.conf.numShufflePartitions + 3
    val viaLake = SuffixArray.lcpAdjacentAt(lake, Some(wide))
      .orderBy($"sa_rank").collect().toSeq
    assert(new java.io.File(s"$store/descent").exists(),
      "forced-width descent must sever through the store")
    val viaMem = SuffixArray.lcpAdjacent(mem).orderBy($"sa_rank").collect().toSeq
    assert(viaLake == viaMem, "lake-mode descent diverged from in-memory")
  }

  test("loadIndex resumes the LCP + cut chain from a level store alone") {
    // The build leg is the hour-scale leg at x100; its artifact must
    // outlive the JVM. A store written by a levelStore build carries
    // the addressing too, and loadIndex must reconstruct an index
    // whose SA view, LCP descent, and span cut are bitwise the
    // original's.
    val docs = Seq((0L, "the cat sat on the mat, the cat sat"),
      (1L, "a cat sat on a mat"), (2L, "entirely unrelated text here"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files.createTempDirectory("sa-resume").toString
    val built = SuffixArray.buildIndex(docs, "doc_id", "text",
      retainLevels = true, levelStore = Some(store))
    assert(new java.io.File(s"$store/addr").exists(),
      "levelStore build must persist the addressing")
    val loaded = SuffixArray.loadIndex(spark, store, "doc_id", SuffixArray.Sep.toLong)
    assert(loaded.total == built.total)
    assert(loaded.levels.map(_._1) == built.levels.map(_._1))
    assert(SuffixArray.saOf(loaded).orderBy($"gid").collect().toSeq ==
      SuffixArray.saOf(built).orderBy($"gid").collect().toSeq,
      "SA view diverged after resume")
    val lcpB = SuffixArray.lcpAdjacent(built).orderBy($"sa_rank").collect().toSeq
    val lcpL = SuffixArray.lcpAdjacent(loaded).orderBy($"sa_rank").collect().toSeq
    assert(lcpB == lcpL, "LCP descent diverged after resume")
    val cut = SuffixArray.removeSpansFromLcp(docs, "doc_id", "text",
      SuffixArray.lcpAdjacent(loaded),
      loaded.addr.filter($"code" =!= SuffixArray.Sep.toLong)
        .select($"doc_id", $"pos", $"gid"),
      minLen = 8L, np = 4)
      .orderBy($"doc_id").collect().toSeq
    val cutB = SuffixArray.removeSpansFromLcp(docs, "doc_id", "text",
      SuffixArray.lcpAdjacent(built),
      built.addr.filter($"code" =!= SuffixArray.Sep.toLong)
        .select($"doc_id", $"pos", $"gid"),
      minLen = 8L, np = 4)
      .orderBy($"doc_id").collect().toSeq
    assert(cut == cutB, "span cut diverged after resume")
    assert(cut.exists(_.getLong(2) > 0), "fixture must actually cut something")
  }

  test("driver-side pair ranking equals the distributed two-pass exactly") {
    // The doubling loop ranks small rounds' distinct pairs on the
    // driver (r17 optimization); a negative byte budget keeps every
    // round on the distributed two-pass — the ranks must be identical.
    val docs = Seq((0L, "banana bandana ana"), (1L, "banana bandana ana"),
      (2L, "cabana banana"), (3L, "tail piece"))
    val viaDriver = spark2(docs)
    val viaTwoPass = spark2At(docs, "SuffixArray.rank" -> -1L)
    assert(viaDriver == viaTwoPass,
      "driver-rank path diverged from the distributed two-pass")
    assert(viaDriver == bruteSa(docs).sortBy(r => (r._1, r._2)))
  }

  test("bigram init equals the single-code init exactly (build and LCP chain)") {
    // r18: the doubling starts at m = 2 from driver-ranked bigrams;
    // a negative byte budget keeps the single-code init + round 1 —
    // ranks, retained levels (via the LCP chain) and spans must match.
    val docs = Seq((0L, "banana bandana ana"), (1L, "banana bandana ana"),
      (2L, "cabana banana"), (3L, "tail piece"))
    def lcpChain(budgets: (String, Long)*): Seq[(Long, Long, Long, Long)] = {
      val df = docs.toDF("doc_id", "text")
      val ix = DriverBound.withBudget(budgets: _*)(
        SuffixArray.buildIndex(df, "doc_id", "text", retainLevels = true))
      SuffixArray.lcpAdjacent(ix)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
    }
    val viaBigram = (spark2(docs), lcpChain())
    val single = "SuffixArray.bigram" -> -1L
    val viaSingle = (spark2At(docs, single), lcpChain(single))
    assert(viaBigram == viaSingle,
      "bigram-init path diverged from the single-code init")
    assert(viaBigram._1 == bruteSa(docs).sortBy(r => (r._1, r._2)))
  }

  /** Decision labels (`<op>: path=…`) the `op` switch put on jobs while
    * `body` ran.
    */
  private def decisions(op: String)(body: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } // let queued listener events drain
    finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray.map(_.toString).filter(_.startsWith(s"$op: path=")).distinct.toSeq
  }

  private val boundaryDocs = Seq((0L, "banana bandana ana"), (1L, "banana bandana ana"),
    (2L, "cabana banana"), (3L, "tail piece"))

  /** Empty and all-null text build to no text positions on either path. */
  private def assertDegenerate(op: String): Unit =
    for (budget <- Seq(Long.MaxValue, -1L)) {
      assert(spark2At(Seq.empty, op -> budget).isEmpty, s"empty corpus at $budget")
      assert(spark2At(Seq((0L, null: String), (1L, null)), op -> budget).isEmpty,
        s"all-null corpus at $budget")
    }

  test("bigram init switch at the byte bound: at it, one row over, empty and all-null text") {
    val op = "SuffixArray.bigram"
    // the distinct (code, next code or -1) pairs of the SEP-joined corpus
    val s = boundaryDocs.sortBy(_._1)
      .flatMap { case (_, t) => t.codePoints().toArray.toSeq :+ SuffixArray.Sep }
    val bigrams = s.indices.map(i => (s(i), if (i + 1 < s.length) s(i + 1) else -1)).distinct.size
    val at = bigrams * SuffixArray.rankedRowBytes(org.apache.spark.sql.types.StructType(
      Seq("code", "code2", "c").map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.LongType))))
    var atSa, overSa = Seq.empty[(Long, Long, Long, Long)]
    val atPaths = decisions(op) { atSa = spark2At(boundaryDocs, op -> at) }
    val overPaths = decisions(op) { overSa = spark2At(boundaryDocs, op -> (at - 1L)) }
    assert(atPaths === Seq(s"$op: path=driver rows=$bigrams bytes=$at bound=$at B"))
    assert(overPaths.nonEmpty && overPaths.forall(_.contains("path=distributed")), overPaths)
    assert(atSa == overSa)
    assert(atSa == bruteSa(boundaryDocs).sortBy(r => (r._1, r._2)))
    assertDegenerate(op)
  }

  test("rank switch at the byte bound: at it, one row over, empty and all-null text") {
    val op = "SuffixArray.rank"
    // the largest round's charge, read off an unbounded build's labels
    val Charged = """.* bytes=(\d+) .*""".r
    val at = decisions(op)(spark2At(boundaryDocs, op -> Long.MaxValue))
      .collect { case Charged(b) => b.toLong }.max
    var atSa, overSa = Seq.empty[(Long, Long, Long, Long)]
    val atPaths = decisions(op) { atSa = spark2At(boundaryDocs, op -> at) }
    val overPaths = decisions(op) { overSa = spark2At(boundaryDocs, op -> (at - 1L)) }
    assert(atPaths.nonEmpty && atPaths.forall(_.contains("path=driver")), atPaths)
    assert(atPaths.exists(_.contains(s" bytes=$at ")), atPaths)
    assert(overPaths.exists(_.contains("path=distributed")), overPaths)
    assert(atSa == overSa)
    assert(atSa == bruteSa(boundaryDocs).sortBy(r => (r._1, r._2)))
    assertDegenerate(op)
  }

  test("build parallelism derives from the measured position count") {
    // identity at gate scales (plans must stay byte-identical), ~1 M
    // positions per partition past the session width, capped at 2048
    assert(SuffixArray.derivedBuildParts(32, 1000L) == 32)
    assert(SuffixArray.derivedBuildParts(32, 32000000L) == 32)
    assert(SuffixArray.derivedBuildParts(32, 156600000L) == 156)
    assert(SuffixArray.derivedBuildParts(32, 5000000000L) == 2048)
    assert(SuffixArray.derivedBuildParts(200, 50000000L) == 200)
  }
}
