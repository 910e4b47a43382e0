package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Data-quality profiling over arbitrary tables — the "is this corpus
 * fit to train on" pre-flight a large-scale pipeline runs before any
 * expensive pass (the same report Deequ/Great-Expectations-style
 * checkers produce, expressed as plain aggregations so the numbers are
 * oracle-checkable).
 *
 * Scale shape: [[profileColumns]] melts k columns into `(col, value)`
 * rows — a narrow generate, no shuffle — then ONE hash aggregation on
 * `(col, value)` with map-side partial combine (heavy-tailed value
 * distributions collapse before the exchange) and a k-row rollup.
 * Row multiplication is by k (the profiled columns), not by data
 * width; at 100 TB profile the columns you care about, or use the
 * HLL-sketch path (`cardinality_report`) when approximate distinct
 * counts suffice.
 *
 * Cross-engine determinism: values are compared only through an
 * injective per-column `CAST(... AS STRING)` — the profile consumes
 * counts, never the rendered strings, so engine formatting differences
 * cannot leak into the result. Entropy uses the exact rearrangement
 * `H = ln N − (Σ c·ln c)/N` (one aggregate, no per-row division) and
 * is rounded to 6 dp as the last step.
 */
object ProfileOps {

  /**
   * Per-column completeness/distinctness/entropy profile.
   *
   * One row per profiled column:
   * `col_name, n_rows, n_null, completeness, n_distinct, entropy`
   * where `completeness = (n_rows − n_null)/n_rows` (6 dp),
   * `n_distinct` counts non-null distinct values, and `entropy` is the
   * Shannon entropy (nats, 6 dp) of the non-null value distribution.
   */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns: need at least one column")
    val kv = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*))
      .as("kv")).select(col("kv.col_name"), col("kv.v"))
    val counts = kv.groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
    counts.groupBy("col_name").agg(
      sum("cnt").as("n_rows"),
      coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
      count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
      coalesce(sum(when(col("v").isNotNull,
        col("cnt").cast("double") * log(col("cnt").cast("double")))),
        lit(0.0)).as("clnc"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        round((col("n_rows") - col("n_null")).cast("double") /
          col("n_rows"), 6).as("completeness"),
        col("n_distinct"),
        round(when(col("n_rows") - col("n_null") > 0,
          log((col("n_rows") - col("n_null")).cast("double")) -
            col("clnc") / (col("n_rows") - col("n_null")))
          .otherwise(lit(0.0)), 6).as("entropy"))
  }

  /**
   * k-anonymity risk report over a quasi-identifier column set: can a
   * row be re-identified because its QI combination is rare? One row:
   * `n_rows, n_groups, k_min, groups_at_risk, rows_at_risk, risk_frac`
   * where "at risk" means the QI group has fewer than `k` members.
   *
   * Scale shape: one shuffle keyed on the QI tuple (map-side combine
   * collapses each partition's groups first), then a single-row
   * rollup — the canonical two-level aggregation; nothing is collected.
   */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymity: need at least one quasi-id")
    require(k > 0, "kAnonymity: k must be positive")
    df.groupBy(quasiIds.map(col): _*).agg(count(lit(1)).as("sz"))
      .agg(
        sum("sz").as("n_rows"),
        count(lit(1)).as("n_groups"),
        min("sz").as("k_min"),
        count(when(col("sz") < k, lit(1))).as("groups_at_risk"),
        coalesce(sum(when(col("sz") < k, col("sz"))), lit(0L))
          .as("rows_at_risk"))
      .select(col("n_rows"), col("n_groups"), col("k_min"),
        col("groups_at_risk"), col("rows_at_risk"),
        round(col("rows_at_risk").cast("double") / col("n_rows"), 6)
          .as("risk_frac"))
  }

  /**
   * Blocked fuzzy record linkage: candidate entity pairs whose names
   * are within `maxDist` Levenshtein edits, generated ONLY within a
   * blocking key (the name's first whitespace token) so the pair space
   * is O(Σ B_i²) over bounded block sizes instead of O(n²).
   *
   * Pipeline shape the scaladoc promises at 100 TB: (1) collapse to
   * DISTINCT names first — web-scale entity columns are heavy-tailed,
   * so this is the big reduction; (2) deterministic per-block cap
   * (`row_number` by name, one shuffle) bounds any hot block;
   * (3) self-join on the block key only; (4) the Levenshtein filter
   * runs on the bounded candidate stream. Output is one row per
   * unordered pair: `name_a < name_b, dist`.
   */
  def entityPairs(df: DataFrame, nameCol: String, maxDist: Int,
      maxBlock: Int): DataFrame = {
    require(maxDist >= 0, "entityPairs: maxDist must be non-negative")
    require(maxBlock > 0, "entityPairs: maxBlock must be positive")
    import org.apache.spark.sql.expressions.Window
    val names = df.select(col(nameCol).as("name"))
      .where(col("name").isNotNull).distinct()
    val capped = names
      .withColumn("blk", split(col("name"), "\\s+").getItem(0))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("name"))))
      .where(col("rn") <= maxBlock)
      .select(col("blk"), col("name"))
    val a = capped.alias("a")
    val b = capped.alias("b")
    a.join(b, col("a.blk") === col("b.blk") &&
        col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name")).cast("int").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /**
   * Market-basket association rules — co-occurring item pairs with
   * support, confidence, and lift (the classic frequent-itemset
   * analytics over order/session baskets; at k=2 the exact pair pass
   * IS the heavy step of Apriori/FP-growth, and higher-order itemsets
   * grow from these survivors).
   *
   * Output: top-`topK` pairs by co-occurrence count (ties by item
   * ids): `item_a < item_b, n_pairs, support, confidence_a_b, lift`
   * (6 dp; `confidence_a_b` = P(b|a), `lift` =
   * `n·c_ab / (c_a·c_b)`).
   *
   * Scale shape: (1) distinct (basket, item) collapse; (2) baskets
   * ABOVE `maxBasketSize` drop entirely — the standard cap that keeps
   * the per-basket pair fan-out ≤ B², so one pathological mega-basket
   * cannot emit millions of pairs; (3) the pair generation is a
   * basket-keyed self-join (equi-join, bounded fan-out), aggregated
   * with map-side combine, over only the items in >= `minCount`
   * baskets (Apriori); (4) item counts and the basket total
   * broadcast back onto the (already reduced) pair table;
   * (5) top-`topK` is a TakeOrdered, never a global sort.
   */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Int = 2, maxBasketSize: Int = 100,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1 && maxBasketSize >= 2 && topK >= 1,
      "associationRules: need minCount >= 1, maxBasketSize >= 2, topK >= 1")
    import org.apache.spark.sql.expressions.Window
    // ONE basket-keyed exchange feeds the whole pipeline (r19): hash
    // partitioning on b alone satisfies the (b, i) distinct's clustered
    // distribution (equal pairs share a basket), so repartition(b) →
    // distinct → size window all ride a single shuffle — previously the
    // distinct exchanged on (b, i) and the window re-exchanged on (b),
    // two corpus-sized exchanges for the same frame. The cached frame
    // also RETAINS hashpartitioning(b), so past the local broadcast
    // regime the pair self-join on b is co-partitioned from cache (no
    // per-side exchange at scale). Trade-off, stated: the repartition
    // ships raw (b, i) rows where the old distinct-first form shipped
    // map-side-collapsed ones — a wash on basket tables whose rows are
    // near-distinct already (order lines), and strictly one exchange
    // cheaper; a heavily duplicated feed should dedup upstream.
    val items = df.select(col(basketCol).cast("long").as("b"),
      col(itemCol).cast("long").as("i"))
      .repartition(col("b")).dropDuplicates("b", "i")
    // persisted: four consumers (basket total, item counts, both pair
    // aliases) would otherwise each replay the distinct + size-cap
    // window — 8 redundant shuffles of the corpus-derived frame; the
    // cached form is two long columns, orders below the input
    val sized = Caches.persist(items
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("b"))))
      .where(col("bsz") <= maxBasketSize)
      .select(col("b"), col("i")))
    val nB = broadcast(sized.agg(
      countDistinct(col("b")).cast("long").as("n_baskets")))
    val ic = sized.groupBy(col("i")).agg(count(lit(1)).as("ci"))
    // Apriori prune: n_pairs <= min(ca, cb), so an item in fewer than
    // minCount baskets is in no surviving pair. The broadcast semi-join
    // keeps `sized`'s hashpartitioning(b) for the self-join.
    val frequent = sized.join(
      broadcast(ic.where(col("ci") >= minCount).select(col("i"))),
      Seq("i"), "left_semi")
    val pairs = frequent.alias("x")
      .join(frequent.alias("y"),
        col("x.b") === col("y.b") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("item_a"), col("y.i").as("item_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .where(col("n_pairs") >= minCount)
    pairs
      .join(broadcast(ic.select(col("i").as("item_a"),
        col("ci").as("ca"))), Seq("item_a"))
      .join(broadcast(ic.select(col("i").as("item_b"),
        col("ci").as("cb"))), Seq("item_b"))
      .crossJoin(nB)
      .select(col("item_a"), col("item_b"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("n_baskets"), 6)
          .as("support"),
        round(col("n_pairs").cast("double") / col("ca"), 6)
          .as("confidence_a_b"),
        round(col("n_pairs").cast("double") * col("n_baskets") /
          (col("ca") * col("cb")), 6).as("lift"))
      .orderBy(col("n_pairs").desc, col("item_a").asc, col("item_b").asc)
      .limit(topK)
  }

  /**
   * Triangle count over an undirected pair graph — the clustering
   * signal that distinguishes a CLIQUE of mutual near-matches (one
   * entity observed many ways) from a CHAIN of borderline matches
   * (distinct entities daisy-chained through a loose threshold); the
   * standard pre-merge diagnostic before collapsing linkage components.
   *
   * Input: one row per undirected edge with endpoint columns `aCol`,
   * `bCol`. Output one row: `n_edges, n_triangles, n_closed_wedges`
   * (closed wedges = 3 × triangles, the global clustering numerator).
   *
   * Scale shape: the compact-forward algorithm — edges normalize to
   * `u < v` once, then ONE self-join chains (u,v)+(v,w) into wedges
   * and ONE semi-join closes them against the edge set; with ordered
   * endpoints each triangle is produced exactly once. Both joins key
   * on endpoints (hash joins, no nested loop); wedge count is bounded
   * by Σ deg², which the caller controls via the pair generator's
   * block/bucket caps.
   */
  def trianglesOf(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(
      least(col(aCol), col(bCol)).as("u"),
      greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    val wedges = e.alias("e1")
      .join(e.alias("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("u"), col("e1.v").as("v"),
        col("e2.v").as("w"))
    val closed = wedges.join(
      e.select(col("u"), col("v").as("w")), Seq("u", "w"), "left_semi")
    e.agg(count(lit(1)).cast("long").as("n_edges"))
      .crossJoin(broadcast(closed.agg(
        count(lit(1)).cast("long").as("n_triangles"))))
      .select(col("n_edges"), col("n_triangles"),
        (col("n_triangles") * 3).cast("long").as("n_closed_wedges"))
  }
}
