package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** J3 — the reference's flagship non-trivial operator: fuzzy dedup of
  * normalized entity names (`code/structure_data.py:155-211`).
  *
  * Semantics: names merge when Ratcliff–Obershelp ratio > 0.95 OR the
  * token lists are same-length with only singular/plural (trailing-s)
  * diffs costing < 0.2 total. The reference merges greedily in sorted
  * key order (order-dependent); we define the deterministic superset:
  * connected components over the merge relation, canonical = min name
  * per component. Greedy's result is always a refinement of ours at the
  * same threshold.
  *
  * Scale design (100 TB): the comparison domain is DISTINCT names, so
  * the quadratic step is bounded by |distinct entities|, not |rows|,
  * and `candidatePairs` bounds it further to names sharing a block key
  * (one equi-join — one shuffle, no cross join); the predicate is
  * evaluated inside codegen. Components come from [[Components]], the
  * labelling every dedup family shares: driver union-find over a
  * bounded edge collect, else distributed large-star / small-star
  * contraction (O(log² n) rounds, `localCheckpoint` per round to keep
  * lineage flat).
  */
object FuzzyDedup {

  /** Single trailing-s singular/plural token pair (wa+'s'==wb or vice
    * versa — exactly the reference's test, not rstrip).
    */
  def pluralPair(x: Column, y: Column): Column =
    concat(x, lit("s")) === y || concat(y, lit("s")) === x

  /** Token-diff cost: 0 equal, 0.1 plural pair, 1.0 otherwise; only
    * defined for same-length token lists (else +inf).
    */
  def tokenCost(a: Column, b: Column): Column = {
    val ta = split(a, " ")
    val tb = split(b, " ")
    when(size(ta) === size(tb),
      aggregate(
        zip_with(ta, tb, (x, y) =>
          when(x === y, lit(0.0))
            .otherwise(when(pluralPair(x, y), lit(0.1)).otherwise(lit(1.0)))),
        lit(0.0), (acc, c) => acc + c))
      .otherwise(lit(Double.MaxValue))
  }

  /** The reference's merge predicate (structure_data.py:184-203). */
  def isDuplicate(a: Column, b: Column, ratioThreshold: Double = 0.95): Column =
    GraftFunctions.roSimilarity(a, b) > ratioThreshold || tokenCost(a, b) < 0.2

  /** Multi-key blocked candidate pairs: names co-block when they share
    * ANY block key — first token or last token, each with trailing 's'
    * stripped — as one equi-join on (key_index, key): the scale path,
    * no cross join. Plural pairs always share both keys; high-ratio
    * pairs differing in one token (the `cold X` ~ `old X` family)
    * still share the other — multi-key blocking is what closes that
    * single-key recall gap.
    */
  def candidatePairs(names: DataFrame, nameCol: String): DataFrame = {
    val keys = names.select(col(nameCol).as("name")).distinct()
      .select(col("name"), posexplode(array(Seq(1, -1).map(token =>
        regexp_replace(substring_index(col("name"), " ", token), "s$", "")): _*)))
      .withColumnRenamed("pos", "block_i").withColumnRenamed("col", "block")
      .distinct()
    val a = keys.select(col("block_i"), col("block"), col("name").as("name_a"))
    val b = keys.select(col("block_i"), col("block"), col("name").as("name_b"))
    a.join(b, Seq("block_i", "block")).filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b").distinct()
  }

  /** Exhaustive pairs over distinct names — the recall reference
    * `candidatePairs` is checked against (quadratic in distinct names).
    */
  def allPairs(names: DataFrame, nameCol: String): DataFrame = {
    val keys = names.select(col(nameCol).as("name")).distinct()
    keys.select(col("name").as("name_a"))
      .crossJoin(keys.select(col("name").as("name_b")))
      .filter(col("name_a") < col("name_b"))
  }

  /** Scala-side merge predicate (same semantics as the Column form). */
  def isDuplicateScala(a: String, b: String, ratioThreshold: Double = 0.95): Boolean = {
    if (graft.functions.RatcliffObershelp.ratio(a, b) > ratioThreshold) true
    else {
      val (wa, wb) = (a.split(" "), b.split(" "))
      wa.length == wb.length && wa.zip(wb).map { case (x, y) =>
        if (x == y) 0.0 else if (x + "s" == y || y + "s" == x) 0.1 else 1.0
      }.sum < 0.2
    }
  }

  /** The reference's EXACT greedy merge (structure_data.py:155-211):
    * iterate keys in sorted order, merge each later key into the first
    * earlier key it matches, skip merged keys thereafter. Order-
    * dependent by construction — kept for bit-parity replays; the CC
    * semantics above is the deterministic superset used by default.
    */
  def greedyCanonicalMap(keys: Seq[String], ratioThreshold: Double = 0.95)
      : Map[String, String] = {
    val sorted = keys.distinct.sorted
    val canonical = scala.collection.mutable.Map.empty[String, String]
    val skip = scala.collection.mutable.Set.empty[String]
    for (i <- sorted.indices; k1 = sorted(i) if !skip(k1)) {
      canonical(k1) = k1
      for (j <- i + 1 until sorted.length; k2 = sorted(j) if !skip(k2)) {
        if (isDuplicateScala(k1, k2, ratioThreshold)) {
          canonical(k2) = k1
          skip += k2
        }
      }
    }
    canonical.toMap
  }

  /** Distinct-name → canonical-name mapping (singletons map to
    * themselves): distinct names → blocked `candidatePairs` → merge
    * predicate → [[Components.canonical]] (min name per component).
    */
  def canonicalMap(
      names: DataFrame, nameCol: String,
      ratioThreshold: Double = 0.95,
      driverCcThreshold: Int = 1000000): DataFrame = {
    // distinct names are small by construction; materializing them once
    // (localCheckpoint — GC-cleaned, unlike a cached plan) saves the
    // two extra full passes over the (possibly huge) input that pairs
    // and the final join would otherwise trigger.
    val keys = names.select(col(nameCol).as("id")).distinct().localCheckpoint()
    val pairs = candidatePairs(keys, "id")
      .filter(isDuplicate(col("name_a"), col("name_b"), ratioThreshold))
      .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
    Components.canonical(keys, pairs, driverCcThreshold)
      .select(col("id").as("name"), col("canonical_id").as("canonical"))
  }
}
