package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Component labelling for every dedup family: connected components
  * over duplicate pairs, canonical = the MIN key of each component,
  * keys that pair with nothing map to themselves. Fuzzy name dedup
  * (string keys) and corpus / embedding dedup (long ids) both end here.
  *
  * Duplicate edges are tiny relative to the rows they were derived
  * from, so up to `driverCcThreshold` of them run driver union-find
  * (one bounded collect, mapping broadcast back); past that the
  * distributed large-star / small-star contraction labels them, and
  * its mapping is NOT broadcast (it can exceed driver memory by
  * construction). Both paths order keys as Spark does: a long id's
  * canonical is its numeric minimum, negatives included, and a string
  * key's is its minimum in UTF-8 byte order.
  */
object Components {

  /** Star-contraction round budget; O(log² n) rounds converge far
    * inside it on any topology (<10 in practice).
    */
  private val MaxRounds = 50

  /** Spark's string order (UTF-8 bytes, as `min`/`least` and the DuckDB
    * twins compare) for driver union-find: Java's `String` order
    * compares UTF-16 units, which puts U+FF21 after U+1F600.
    */
  private val Utf8Order: Ordering[String] =
    Ordering.by[String, UTF8String](UTF8String.fromString)

  /** Driver-side union-find over a small edge list. Canonical = min
    * key per component; every key in any edge is labelled.
    */
  def unionFind[K](edges: Array[(K, K)])(implicit ord: Ordering[K]): Map[K, K] = {
    val parent = scala.collection.mutable.Map.empty[K, K]
    def find(x: K): K = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    edges.iterator.flatMap { case (a, b) => Seq(a, b) }.map(m => m -> find(m)).toMap
  }

  /** Connected components over undirected edges (src, dst) of any
    * orderable key type by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14). Returns (id, component), component = MIN
    * id of the component, every node appearing in any input edge
    * labeled (self-loop-only nodes map to themselves).
    *
    * Why not min-label propagation: label prop converges in
    * O(diameter) rounds, and the realistic worst case for a near-dup
    * graph at 100 TB — boilerplate chains, A≈B≈C≈… — has diameter in
    * the thousands, i.e. thousands of shuffle rounds. The star
    * alternation contracts chains geometrically and converges in
    * O(log² n) rounds regardless of topology.
    *
    *   large-star: every node hooks its LARGER neighbors onto the
    *     minimum of its closed neighborhood — one groupBy(min) +
    *     one equi-join, no neighbor-set collection, so a hub node's
    *     edges stay distributed across partitions;
    *   small-star: every node hooks its smaller neighbors (and
    *     itself) onto the minimum of its smaller neighborhood.
    *
    * Each round is localCheckpoint'ed (constant plan depth across
    * iterations — the loop-frame discipline PageRank uses) and the
    * edge frame only ever shrinks toward the star fixed point, at
    * which every edge is (node, component-min). Convergence is an
    * EXACT fixed-point check, cheaply: both frames are DISTINCT sets,
    * and distinct sets of equal cardinality are equal iff one
    * set-difference is empty — so the per-round cost is one count on
    * the fresh checkpoint (nearly free) plus ONE anti-join emptiness
    * probe that only runs when the counts match at all (early rounds
    * shrink the frame, so the probe is usually skipped entirely; the
    * r7 form ran TWO except probes every round and carried a ~30%
    * premium over the driver path at the 100× replica). A
    * non-converged exit would silently under-merge, so it throws
    * instead.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    // canonical undirected form: (a, b) with a > b, no self-loops
    var cur = edges
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .distinct().localCheckpoint(true)
    var curCount = cur.count()
    var converged = curCount == 0L
    var iter = 0
    // Partition the loop frame by EDGE COUNT, not the session default:
    // a star round is ~6 tiny stages, and at fixture scale (1e5 edges)
    // 32-way task scheduling dominates the round — ~50k edges/partition
    // keeps small graphs on few tasks while a 1e9-edge graph still
    // spreads across the full parallelism (capped there). The same
    // size-adaptive coalescing AQE applies to shuffle reads, applied to
    // the checkpointed frame AQE cannot see.
    def parts(edges: Long): Int = math.max(1, math.min(
      cur.sparkSession.sparkContext.defaultParallelism,
      (edges / 50000L + 1).toInt))
    cur = cur.coalesce(parts(curCount)).localCheckpoint(true)
    while (!converged && iter < MaxRounds) {
      // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v > u
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionByName(cur.select(col("b").as("u"), col("a").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")) // m <= u < v: canonical
        .distinct()
      // small-star on the canonical (a > b) frame: m(a) = min smaller
      // neighborhood; emit (lo, m(a)) for each lo, plus (a, m(a))
      val ssMin = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = ls.join(ssMin, "a")
        .select(col("b").as("na"), col("m").as("nb")) // m <= b: canonical
        .unionByName(ssMin.select(col("a").as("na"), col("m").as("nb")))
        .filter(col("na") =!= col("nb"))
        .select(col("na").as("a"), col("nb").as("b"))
        .distinct().coalesce(parts(curCount)).localCheckpoint(true)
      val nextCount = next.count()
      converged = nextCount == curCount && next.except(cur).isEmpty
      cur = next
      curCount = nextCount
      iter += 1
    }
    require(converged,
      s"connectedComponents did not reach the star fixed point in $MaxRounds " +
        "rounds — refusing to return a possibly under-merged labeling")
    // at the fixed point every edge is (member, component-min) and
    // roots appear only on the b side; label roots (and self-loop-only
    // nodes) as themselves
    val labels = cur.select(col("a").as("id"), col("b").as("component"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** (id, canonical_id) for every row of `ids` (one column `id`), given
    * duplicate pairs (`id_a`, `id_b`) over the same keys, string or
    * long. See the object doc for the driver / distributed split.
    */
  def canonical(
      ids: DataFrame, pairs: DataFrame,
      driverCcThreshold: Int = 1000000): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val sample = edges.limit(driverCcThreshold + 1).collect()
    val cc =
      if (sample.length <= driverCcThreshold) {
        def labels[K: Ordering]: Seq[Row] =
          unionFind(sample.map(r => (r.getAs[K](0), r.getAs[K](1))))
            .toSeq.map { case (k, c) => Row(k, c) }
        val keyType = edges.schema("src").dataType
        val rows = keyType match {
          case StringType => labels(Utf8Order)
          case LongType => labels[Long]
          case t => throw new IllegalArgumentException(s"unsupported id type $t")
        }
        broadcast(ids.sparkSession.createDataFrame(rows.asJava,
          StructType(Seq(StructField("id", keyType), StructField("component", keyType)))))
      } else connectedComponents(edges)
    ids.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("canonical_id"))
  }
}
