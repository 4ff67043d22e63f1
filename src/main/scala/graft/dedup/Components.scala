package graft.dedup

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Checkpoints, DriverBound}

/** Connected components over a candidate-pair edge list — the step that
  * turns pairwise near-dup evidence (MinHash-LSH / SimHash pairs) into
  * dedup CLUSTERS, so a corpus keeps one canonical document per
  * component (component id = min doc id).
  *
  * Near-dup components are overwhelmingly tiny and shallow
  * (pairs→triangles→small cliques), so an edge list that fits the
  * [[graft.operators.DriverBound]] budget is labelled on the driver
  * with union-find. Larger edge lists run the
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC '14): O(log n) rounds on
  * any graph, including deep components (long reply chains, web
  * graphs), with lineage truncated per round by an eager
  * [[graft.operators.Checkpoints]] checkpoint (fresh leaf statistics)
  * so plans stay flat at any iteration count, and each superseded
  * round's blocks freed.
  */
object Components {

  /** Driver bytes per edge of the union-find path: the collected
    * `(a, b)` row and, for each of its two vertices, a parent-map entry
    * and a label row (48 B each).
    */
  private[dedup] val edgeBytes: Long =
    DriverBound.rowBytes(StructType(Seq(StructField("a", LongType), StructField("b", LongType)))) +
      4L * 48L

  /** Min-reachable-id labels `(__ccv, __cclabel)` of collected edge
    * rows, union-find on the driver. Only edge-participating vertices
    * appear; singletons label themselves downstream.
    */
  private def driverLabels(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    rows.foreach { e =>
      val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union always attaches the LARGER root under the smaller, so
    // find(v) IS the component's minimum id — no per-root min scan
    val verts = rows.flatMap(e => Seq(e.getLong(0), e.getLong(1))).distinct
    import spark.implicits._
    broadcast(verts.toSeq.map(v => (v, find(v))).toDF("__ccv", "__cclabel"))
  }

  /** Label every vertex with the minimum vertex id reachable from it.
    * Output: `idCol` in its input type, `component` as long.
    *
    * An edge list whose [[edgeBytes]] fit the `Components`
    * [[DriverBound]] budget is labelled ON THE DRIVER with one bounded
    * collect + union-find (exactly the min-reachable-id labels the
    * contraction converges to) instead of an iterated
    * checkpoint-per-round loop — near-dup components are tiny, and the
    * loop's wall at bench scale is pure per-round scheduler cost
    * (optimization r17, guide §1.2/§8 "decide with small rows").
    *
    * @param vertices one row per vertex (singletons allowed — they keep
    *                 their own id as component)
    * @param pairs    undirected edges (each pair listed once)
    * @param maxIter  contraction rounds before the fallback gives up
    *                 with an error (never reached on the driver path)
    */
  def connectedComponents(
      vertices: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // Null endpoints are dropped HERE, matching the contraction's
    // self-loop filter (a null never compares unequal), so the driver
    // twin must not NPE on one (or let it become a label).
    val labels = DriverBound("Components", spark) { sw =>
      sw.collect(pairs
        .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull), edgeBytes)
        .map(driverLabels(spark, _))
        .getOrElse(starLabels(pairs, aCol, bCol, maxIter))
    }
    vertices
      .join(labels, col(idCol).cast("long") === col("__ccv"), "left")
      .select(col(idCol),
        coalesce(col("__cclabel"), col(idCol).cast("long")).as("component"))
  }

  /** Large-star / small-star contraction: alternate the two star
    * operations on the EDGE LIST until fixpoint, then read
    * `(__ccv, __cclabel)` off the resulting stars.
    *
    *  - large-star(u): every neighbor v > u re-points to m =
    *    min(N(u) ∪ u)
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-points
    *    to the same m
    */
  private def starLabels(pairs: DataFrame, aCol: String, bCol: String,
                         maxIter: Int): DataFrame = {
    var (edges, edgesToken) = Checkpoints.eager(pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    // Fixpoint test: the round output equals the round input. Both are
    // DISTINCT edge sets, so (count, XOR of 64-bit row hashes) is a set
    // checksum — one aggregation job per round, carried across rounds,
    // vs the two full exceptAll comparison jobs this replaces. XOR (not
    // sum) because it is order-independent AND cannot overflow under
    // ANSI arithmetic. The union-find property test still proves
    // end-to-end equality.
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = stats(edges)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val bi = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = bi.groupBy(col("a"))
        .agg(min(least(col("a"), col("b"))).as("m"))
      val large = bi.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      val (afterLarge, largeToken) =
        Checkpoints.eager(large.filter(col("a") =!= col("b")).distinct())
      val bi2 = afterLarge.union(afterLarge.select(col("b").as("a"), col("a").as("b")))
      val le = bi2.filter(col("b") <= col("a"))
      val mins2 = le.groupBy(col("a")).agg(min(col("b")).as("m"))
      val (small, smallToken) = Checkpoints.eager(le.join(mins2, "a")
        .select(col("b").as("x"), col("m"))
        .union(mins2.select(col("a").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
        .distinct())
      largeToken.free()
      edgesToken.free()
      val cur = stats(small)
      changed = cur != prev
      prev = cur
      edges = small
      edgesToken = smallToken
      iter += 1
    }
    // Unconverged labels are WRONG labels (split ids inside one
    // component) — fail loudly rather than hand back plausible-looking
    // cluster ids.
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIter rounds — " +
          "raise maxIter (rounds needed grow with log of the largest component)")
    // Fixpoint edges form stars (child → root). Any vertex not in the
    // edge list is its own component.
    edges.select(col("a").as("__ccv"), col("b").as("__cclabel"))
      .union(edges.select(col("b").as("__ccv"), col("b").as("__cclabel")))
      .groupBy(col("__ccv")).agg(min(col("__cclabel")).as("__cclabel"))
  }
}
