package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, SeededXxHash64Long}

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard brute force (the small-scale oracle-checkable baseline),
  * MinHash+LSH (the 100 TB path), and SimHash.
  *
  * Scale design: exact dedup is one hash-shuffle on the fingerprint;
  * MinHash/SimHash pair generation shuffles on (band, bucket-hash) —
  * candidate volume is governed by the banding parameters, never O(n²).
  * The brute-force variant exists as the correctness oracle only (it IS
  * quadratic; don't run it at scale — that's what the LSH path is for).
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact-duplicate groups by normalized-text fingerprint: one row per
    * distinct fingerprint with the group size and the kept (min) id.
    * Single hash aggregate — linear, shuffle on the fingerprint only. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))
      .orderBy("fp")

  // ----------------------------------------------------------- shingles

  /** Distinct word k-gram shingles of a text column — the DISTINCT view of
    * [[TextAnalysis.wordNgrams]] (see its scaladoc for the
    * zip_with-over-slices shape and why `element_at` lambdas are a trap);
    * docs with fewer than k words yield an empty array. */
  def shingles(text: Column, k: Int): Column =
    array_distinct(TextAnalysis.wordNgramsFast(text, k))

  /** |A∩B| / |A∪B| over two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b)))

  // ------------------------------------------------- brute-force Jaccard

  /** All pairs (id_a < id_b) with shingle-Jaccard >= threshold, ordered by
    * (id_a, id_b) — exact (a pair above any threshold > 0 shares >= 1
    * shingle, so the exploded shingle self-join loses nothing vs a full
    * O(n²) cross join). Cost is Σ_shingle freq² rather than n² — the
    * exact-but-unblocked baseline; [[minHashLshPairs]] is the banded
    * scale path. */
  def jaccardPairsBrute(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    requireThreshold(threshold)
    // no size>0 filter: it would re-evaluate the whole shingle expression a
    // second time per row (HOFs don't codegen), and empty arrays simply
    // explode to zero rows / never become candidates. Scope-cached for the
    // same multi-consumer reason as the LSH path (see Caching.scoped)
    val sh = shingleTable(docs, idCol, textCol, k)
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val cand = ex.select(col("id").as("id_a"), col("s"))
      .join(ex.select(col("id").as("id_b"), col("s")), "s")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    Caching.scoped(sh)(verifyJaccard(cand, sh, threshold).orderBy("id_a", "id_b"))
  }

  /** Every pair operator enumerates only pairs that share a shingle, so a
    * threshold must be a Jaccard value that excludes zero overlap. */
  private def requireThreshold(threshold: Double): Unit =
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold (zero-overlap pairs are not enumerated)")

  /** The `(id, sh)` shingle table every pair operator and the persisted
    * index start from. Registers graft's functions on the frame's OWN
    * session first: the shingles analyze eagerly here, and the active
    * session may differ in multi-session apps. */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
  }

  // ---------------------------------------------------------- MinHash+LSH

  /** MinHash+LSH near-dup pairs — the scale path:
    * shingle → 'numHashes' xxhash64 minima per doc → band the signature
    * ('bands' bands of numHashes/bands rows) → group each (band, bucket)
    * → verify candidates with the TRUE Jaccard. Output
    * `(id_a, id_b, jaccard)`, id_a < id_b, ordered by (id_a, id_b): the
    * small verified result is sorted here, at the operator's edge.
    *
    * Verification makes output exact-subset of the brute-force result;
    * banding makes the candidate set linear in collisions instead of
    * O(n²). With r = numHashes/bands rows per band,
    * P[candidate] = 1-(1-j^r)^bands — 64 hashes / 32 bands catches
    * j >= 0.5 with P > 0.9999.
    *
    * @param maxBucketSize optional cap on LSH bucket membership: a bucket
    *        with more docs than this is skipped entirely (candidate count
    *        in a bucket is quadratic, and degenerate corpora — boilerplate,
    *        empty docs — produce mega-buckets that dominate runtime at
    *        scale). Trades recall inside oversized buckets; disabled by
    *        default so small-scale results stay exact. */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, threshold: Double,
                      numHashes: Int = 64, bands: Int = 32,
                      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (sh, pairs) = lshPairsPlan(docs, idCol, textCol, k, threshold,
      numHashes, bands, maxBucketSize)
    Caching.scoped(sh)(pairs.orderBy("id_a", "id_b"))
  }

  /** [[minHashLshPairs]] for single-action consumers (clustering's eager
    * checkpoint, a lone write): skips the eager pair materialization —
    * see [[Caching.scopedDeferred]] for the release/unpersist contract.
    * Saves one full pass over the LSH pipeline when the caller's next
    * step materializes the pairs anyway. The pair set comes back
    * UNORDERED: its consumers never read the order, and sorting it would
    * cost a sampling job plus a range exchange — sort it yourself if you
    * need (id_a, id_b) order. */
  def minHashLshPairsDeferred(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, threshold: Double,
                              numHashes: Int = 64, bands: Int = 32,
                              maxBucketSize: Int = Int.MaxValue): (DataFrame, () => Unit) = {
    val (sh, pairs) = lshPairsPlan(docs, idCol, textCol, k, threshold,
      numHashes, bands, maxBucketSize)
    Caching.scopedDeferred(sh)(pairs)
  }

  /** The self-join LSH pipeline behind [[minHashLshPairs]] and
    * [[minHashLshPairsDeferred]], UNSCOPED and unordered: returns
    * `(shingles, pairsPlan)`; callers scope-cache `shingles` around their
    * final frame.
    *
    * Candidates come from ONE grouped bucket table: `groupBy(band,
    * bucket)` collects each bucket's member ids, the `maxBucketSize` guard
    * is a size filter on that list (every doc has one row per band, so the
    * list size IS the bucket size), and the `id_a < id_b` pairs expand
    * in-row by exploding the list twice, then `distinct` (a pair that
    * collides in several bands is one candidate). The shingle table feeds
    * the signature build and both sides of [[verifyJaccard]], and AQE
    * reuses none of those exchanges — uncached, the tokenize-and-fold HOF
    * chain would re-run over the corpus per consumer. [[Caching]] persists
    * it (NOT localCheckpoint: that truncates lineage, and a lost executor
    * — routine at 1000 executors — would kill the job instead of
    * recomputing) for exactly as long as the small pair output takes to
    * materialize. */
  private def lshPairsPlan(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, threshold: Double, numHashes: Int, bands: Int,
                           maxBucketSize: Int): (DataFrame, DataFrame) = {
    requireThreshold(threshold)
    val sh = shingleTable(docs, idCol, textCol, k)
    val cand = lshBuckets(sh, numHashes, bands)
      .groupBy("band", "bucket").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    (sh, verifyJaccard(cand, sh, threshold))
  }

  /** Per-id MinHash signatures over a `(id, sh)` shingle table (one
    * shuffle on id). Each shingle STRING hashes once; the k per-seed
    * values rehash that 64-bit base (fixed 12 bytes through xxhash64)
    * instead of re-walking the string k times — measured ~1.5x faster on
    * the signature stage, and seeded rehashing of a uniform base is as
    * valid a permutation family as seeded string hashing (verification
    * keeps the output an exact subset of brute force regardless of the
    * hash family). graft_xxhash64_seeded(h, j) == xxhash64(lit(j), h)
    * bit-for-bit ([[graft.functions.SeededXxHash64Long]]) but precomputes
    * the j-th seed at plan time — one hashLong per permutation per row
    * instead of two, and the k-wide aggregate input projection stays a
    * flat run of static calls inside whole-stage codegen (the min
    * aggregates keep HashAggregateExec's primitive-buffer fast path; an
    * array-valued signature aggregate would force object/sort
    * aggregation). */
  private def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    GraftFunctions.register(sh.sparkSession)
    // IN-ROW signatures (r15, guide §2.4 remove shuffles outright): the
    // shingle table already has one row per doc, so the old
    // explode → shuffle-on-id → 64-column min HashAggregate existed only
    // to undo its own explode. [[graft.functions.MinHashSig]] computes
    // the same per-permutation minima (same base xxhash64, same
    // SeededXxHash64Long arithmetic — bit-equal, DedupSpec-pinned) in
    // one codegen'd array pass; NULL (empty shingles) rows drop exactly
    // like explode emitted nothing. One exchange fewer in EVERY LSH
    // consumer — pairs, cross-pairs, the persisted index build.
    sh.select(col("id"),
        call_function(graft.functions.MinHashSig.Name,
          col("sh"), lit(numHashes)).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("id") +:
        (0 until numHashes).map(j => col("__sig").getItem(j).as(s"h$j")): _*)
  }

  /** A `(id, sh)` shingle table → `(id, band, bucket)` rows: each doc's
    * MinHash signature, each band's run of `numHashes/bands` values
    * hashed into one bucket key, one row per band. Shingle-less docs
    * yield no rows. */
  private[graft] def lshBuckets(sh: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rows).map(r => col(s"h${b * rows + r}")): _*).as("bucket"))
    }
    minHashSignatures(sh, numHashes)
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Fuzzy (near-duplicate) benchmark decontamination: MinHash-LSH
    * between TWO datasets — corpus documents whose shingle Jaccard vs
    * some benchmark document clears `threshold`, found without ever
    * comparing the corpus to itself or crossing it with the full
    * benchmark. [[graft.ops.TextAnalysis.benchmarkOverlap]] is the EXACT
    * k-gram-overlap variant (any shared gram); this is the fuzzy one —
    * paraphrased or lightly-edited contamination that exact grams miss
    * but high Jaccard still exposes.
    *
    * Output `(doc_id, bench_id, jaccard)` — every verified pair, ordered.
    * Verification computes TRUE Jaccard on the candidates, so the result
    * is an exact subset of the brute-force cross product; the banding
    * parameters make a miss at `threshold` astronomically unlikely
    * (P[miss] = (1-J^r)^bands ≈ 5e-10 at J=0.5 with 64/32), which is why
    * the entry can hold a full equality oracle against brute force.
    *
    * Distributed shape (the 100 TB path): each side's signatures are one
    * scan + one shuffle on id; the ONLY cross-dataset contact is the
    * (band, bucket) equi-join — the benchmark side is benchmark-sized ×
    * bands rows, which AQE broadcasts, so the corpus never shuffles for
    * the join; candidate volume is governed by banding, never |corpus| ×
    * |bench|. `maxBucketSize` drops degenerate corpus-side mega-buckets
    * (boilerplate shingle sets) exactly as in [[minHashLshPairs]]. */
  def crossMinHashLshPairs(docs: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String,
                           k: Int, threshold: Double,
                           numHashes: Int = 64, bands: Int = 32,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (caches, pairs) = crossPairsPlan(docs, bench, idCol, textCol, k,
      threshold, numHashes, bands, maxBucketSize)
    Caching.scoped(caches: _*)(pairs.orderBy("doc_id", "bench_id"))
  }

  /** [[crossMinHashLshPairs]] UNSCOPED and unordered: `(scope caches,
    * pairsPlan)`. Both shingle tables feed a signature build and a
    * verification side, and the batch bucket table `bb` feeds TWO
    * consumers (the broadcast key set and the candidate join) — uncached,
    * the batch signature build would run twice (measured ~0.9 s at
    * sf0.1); all three are (batch or corpus) × small and are released
    * with the rest of the scope. */
  private def crossPairsPlan(docs: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String,
                             k: Int, threshold: Double, numHashes: Int, bands: Int,
                             maxBucketSize: Int): (Seq[DataFrame], DataFrame) = {
    requireThreshold(threshold)
    val shd = shingleTable(docs, idCol, textCol, k)
    val shb = shingleTable(bench, idCol, textCol, k)
    val bb = lshBuckets(shb, numHashes, bands)
    (Seq(shd, shb, bb), crossVerifiedPairs(lshBuckets(shd, numHashes, bands), shd,
      bb, shb, threshold, maxBucketSize))
  }

  /** The cross-dataset candidate + verification plan shared by
    * [[crossMinHashLshPairs]] (both sides computed) and
    * [[incrementalDedupKeepIndexed]] (history from the persisted store) —
    * ONE definition so the mega-bucket rule and candidate semantics can
    * never drift between the recompute and indexed paths. Unscoped and
    * unordered: callers scope-cache `shb` and `bb`.
    *
    * History buckets are first restricted to the buckets the batch
    * actually TOUCHES, via a broadcast semi-join on the batch's
    * (band, bucket) keys (batch-sized × bands rows — the standing
    * bench-side-is-small contract). Untouched buckets generate no
    * candidates, and every history row of a touched bucket survives the
    * join, so bucket sizes — and therefore the `maxBucketSize` guard and
    * the candidate set — are IDENTICAL to guarding the full table; but
    * the guard's window now runs over a candidate-sized table and the
    * history side is scanned, never shuffled (the O(batch)-per-day
    * contract of the indexed path). */
  private def crossVerifiedPairs(histBk: DataFrame, histSh: DataFrame,
                                 bb: DataFrame, shb: DataFrame,
                                 threshold: Double, maxBucketSize: Int): DataFrame = {
    val touched = histBk.join(
      broadcast(bb.select(col("band"), col("bucket")).distinct()),
      Seq("band", "bucket"))
    val guarded =
      if (maxBucketSize == Int.MaxValue) touched
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
        touched.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= maxBucketSize).drop("__bs")
      }
    val cand = guarded.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("doc_id"), col("y.id").as("bench_id"))
      .distinct()
    verifyJaccardBetween(cand, histSh, shb, "doc_id", "bench_id", threshold)
  }

  /** Verify candidate pairs against the TRUE shingle Jaccard, in-row:
    * each candidate joins each side's shingle array once, then
    * |A∩B| = size(array_intersect(sa, sb)) (shingle arrays are already
    * distinct), |A∪B| = |A|+|B|-|A∩B|, and the ratio is rounded to 6
    * places. `both > 0` stays in the filter: a zero-overlap candidate is
    * never emitted, so the output is an exact subset of brute force.
    * Unordered — the public eager operators sort at their own edge.
    *
    * The shape relies on the shingle tables being materialized: every
    * caller scope-caches them (the indexed path reads history arrays from
    * disk), so the intersection reads stored arrays and never re-runs the
    * interpreted tokenize-and-fold HOF chain per candidate pair.
    * [[Caching.planOnly]] explain plans are the one exception: they build
    * the plan uncached and never execute it. Catalyst pushes both filters
    * into the second join's condition, so a candidate that clears them
    * computes the intersection three times there and once more in the
    * projection — each a hash pass over two stored arrays. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyJaccardBetween(cand, sh, sh, "id_a", "id_b", threshold)

  /** [[verifyJaccard]] generalized to candidates drawn from two distinct
    * shingle tables (`shA` keyed by `aCol`, `shB` by `bCol`) — the
    * cross-dataset (decontamination) case collapses to the self-join case
    * when both sides are the same table. */
  private def verifyJaccardBetween(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                                   aCol: String, bCol: String,
                                   threshold: Double): DataFrame =
    cand
      .join(shA.select(col("id").as(aCol), col("sh").as("__sa")), aCol)
      .join(shB.select(col("id").as(bCol), col("sh").as("__sb")), bCol)
      .select(col(aCol), col(bCol),
        size(array_intersect(col("__sa"), col("__sb"))).as("both"),
        size(col("__sa")).as("na"), size(col("__sb")).as("nb"))
      .filter(col("both") > 0)
      .withColumn("jaccard",
        col("both").cast("double") / (col("na") + col("nb") - col("both")))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), round(col("jaccard"), 6).as("jaccard"))

  // ------------------------------------------------- near-dup clustering

  /** Collapse verified near-dup PAIRS into connected components, labeling
    * every member with its component's canonical id (the minimum doc id) —
    * the keep/drop decision step of a dedup pipeline (keep `cluster_id`,
    * drop the rest). Input: `(id_a, id_b)` pairs of an integral id type;
    * output: `(doc_id, cluster_id)` of that type, one row per document
    * appearing in a pair, ordered by `doc_id`. Eager: the labels are
    * materialized (local checkpoint) before this returns, so the caller
    * may release the pair set at once.
    *
    * Distributed shape (local contraction, Łącki et al. 2018): the pairs
    * are rebalanced by `id_a` with no partition count, so adaptive
    * execution sizes the partitions from the edge bytes, coalescing small
    * ones and splitting any above the advisory partition size. Under the
    * default `coalescePartitions.parallelismFirst` the coalescing target
    * is max(`coalescePartitions.minPartitionSize`, 1 MB by default;
    * min(advisory size, shuffle bytes / default parallelism)), so a pair
    * set below about 1 MB of shuffle bytes (tens of thousands of pairs)
    * lands in ONE partition. Each partition runs a min-id union-find with
    * path halving over its edges in primitive arrays ([[localComponents]]).
    * With one partition those roots are final: two Spark jobs (the
    * shuffle's map stage and the checkpoint), and a one-partition table
    * whose `orderBy` plans no exchange. With several, a node may hold a
    * different root in each partition it occurs in; every `(doc_id, root)`
    * row is an edge of a star around its root, and those stars connect
    * exactly the original components, so label propagation over them
    * ([[propagateMinLabels]], `maxIters` bounding its rounds) gives the
    * final labels.
    *
    * Memory: a task holds one adaptive partition's edges and distinct ids
    * in heap arrays that cannot spill (four longs per edge: its two ends
    * and their sorted copy, plus the builder's growth slack while
    * reading; one int per id).
    * Rebalancing splits a partition above the advisory size (at
    * map-output boundaries), so that bounds the share of the pair graph
    * one task holds, not the graph's size. That is why this is not a single-task union-find
    * (`repartition(1)`), which would be as cheap at small sizes but would
    * bound the largest pair graph by one task's memory. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val (typeA, typeB) = (pairs.schema("id_a").dataType, pairs.schema("id_b").dataType)
    require(Seq(typeA, typeB).forall(Seq(ByteType, ShortType, IntegerType, LongType).contains),
      s"nearDupClusters needs integral ids, got ${pairs.schema.simpleString}")
    val idType = if (typeA == typeB) typeA else LongType
    val local = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .hint("rebalance", col("id_a"))
      .mapPartitions(localComponents)(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("doc_id", "cluster_id")
      .localCheckpoint(true)
    // coalesce(1) moves no data: it declares the one partition, so the
    // caller's orderBy sorts in place instead of planning a range exchange
    val labels =
      if (local.rdd.getNumPartitions <= 1) local.coalesce(1)
      else propagateMinLabels(local.toDF("id_a", "id_b"), maxIters)
    labels.select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
      .orderBy("doc_id")
  }

  /** Min-id union-find over one partition's `(a, b)` edges: the distinct
    * ids sorted into one array, so an id's index orders like the id and
    * linking the larger root under the smaller keeps every root its
    * component's minimum. Emits `(id, root)` per distinct id, by id. */
  private def localComponents(edges: Iterator[org.apache.spark.sql.Row]): Iterator[(Long, Long)] = {
    val ab = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { r => ab += r.getLong(0); ab += r.getLong(1) }
    val ends = ab.result()
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (i == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var i = x
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var e = 0
    while (e < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
  }

  /** Connected components of the `(id_a, id_b)` edges by iterated min-label
    * propagation with pointer doubling: `(doc_id, cluster_id)` per node,
    * cluster_id the component's minimum id. Rounds = O(log diameter);
    * failing to converge within `maxIters` rounds throws. `pairs` is a
    * local checkpoint this call owns: like the edge table and every
    * superseded round, it is released once the checkpoint that replaces
    * it has materialized, so only the result's checkpoint stays. */
  private def propagateMinLabels(pairs: DataFrame, maxIters: Int): DataFrame = {
    // eager localCheckpoint: each round's plan would otherwise embed the
    // previous round's TWICE (via the neighbor join), doubling the logical
    // plan per iteration — caching alone keeps the data but not the
    // lineage, and Catalyst planning/explain blows up exponentially.
    // Measured and rejected: disabling AQE around the loop (fewer
    // per-round stage jobs, fixed-count shuffles) was flat-to-worse — the
    // latency AQE adds on these tiny tables is smaller than its
    // small-task coalescing buys
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    releaseCheckpoint(pairs)
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(least(min(col("dst")), first(col("src"))).as("cluster_id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min("cluster_id").as("__nb"))
      // pointer doubling: also adopt the label OF the current label —
      // halves the remaining hop distance to the component min each
      // round, so convergence is O(log diameter), not O(diameter)
      // (a 1M-long chain converges within the default 20 rounds)
      val viaLabel = labels.as("l1")
        .join(labels.as("l2"), col("l1.cluster_id") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("doc_id"), col("l2.cluster_id").as("__ll"))
      // keep the previous label in the SAME row; the convergence count
      // rides on the checkpoint action itself via observe(), so the loop
      // condition costs no job of its own
      val obs = new org.apache.spark.sql.Observation()
      val next = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .join(viaLabel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("__old"),
          least(col("cluster_id"),
            least(coalesce(col("__nb"), col("cluster_id")),
              coalesce(col("__ll"), col("cluster_id")))).as("cluster_id"))
        .observe(obs, coalesce(sum(when(col("cluster_id") =!= col("__old"), 1L)
          .otherwise(0L)), lit(0L)).as("changed"))
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      releaseCheckpoint(labels)
      labels = next.select("doc_id", "cluster_id")
      iter += 1
    }
    releaseCheckpoint(edges)
    // exiting at the cap with changes pending would SILENTLY split a
    // component into several cluster ids — fail loudly instead
    if (changed > 0) {
      releaseCheckpoint(labels)
      throw new IllegalStateException(
        s"nearDupClusters did not converge within $maxIters rounds " +
          "(component diameter > 2^maxIters is pathological input)")
    }
    labels
  }

  /** Drop the blocks of a local checkpoint. `Dataset.unpersist` does not
    * reach them: they belong to the RDD under the frame's `LogicalRDD`,
    * and would otherwise stay in executor storage until driver GC lets
    * the ContextCleaner drop them. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The end product of the dedup pipeline: the corpus with every
    * non-canonical near-dup member dropped (each cluster keeps its min-id
    * canonical; docs in no cluster pass through). One anti-join against
    * the non-canonical member list — tiny relative to the corpus, so
    * Catalyst broadcasts it at any realistic dup rate. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Quality-aware variant of [[dropNearDuplicates]]: each near-dup
    * cluster keeps its BEST member by `score` (ties broken by min doc id)
    * instead of the arbitrary min-id canonical — the policy production
    * curation actually wants ("of these 5 near-identical pages, keep the
    * longest / highest-quality one").
    *
    * `score` must be deterministic (an integer or an exactly-reproducible
    * expression) for the keep decision to be stable across runs/engines.
    *
    * Distributed shape: the ranking window partitions by `cluster_id`
    * over the MEMBER table only (near-dup-sized, tiny vs the corpus —
    * never a corpus-wide window), and the loser list comes back as a
    * broadcast anti-join exactly like [[dropNearDuplicates]]. */
  def dropNearDuplicatesKeepBest(docs: DataFrame, idCol: String,
                                 clusters: DataFrame, score: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("__score").desc, col(idCol).asc)
    val losers = docs
      .select(col(idCol), score.as("__score"))
      .join(clusters.select(col("doc_id").as(idCol), col("cluster_id")), idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental dedup — the daily-crawl shape: keep only the new-batch
    * docs that are NOT near-dups of the existing corpus. Pair generation
    * is [[crossMinHashLshPairs]]' plan with the EXISTING corpus on the big
    * (mega-bucket-guarded) side and the batch on the broadcast side, so
    * growing history never reshuffles more than its own signatures; the
    * batch keep-list is one anti-join on the verified matches (which need
    * no order). Within-batch duplicates are a separate concern — compose
    * with [[dropNearDuplicates]] over the batch's own pair graph for
    * that. */
  def incrementalDedupKeep(batch: DataFrame, existing: DataFrame,
                           idCol: String, textCol: String,
                           k: Int, threshold: Double,
                           numHashes: Int = 64, bands: Int = 32,
                           maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val (caches, pairs) = crossPairsPlan(existing, batch, idCol, textCol,
      k, threshold, numHashes, bands, maxBucketSize)
    val matched = Caching.scoped(caches: _*)(pairs)
    // no distinct: left_anti is insensitive to duplicate right-side keys
    batch.join(matched.select(col("bench_id").as(idCol)), Seq(idCol), "left_anti")
  }

  // ------------------------------------------------ persisted dedup index

  /** Build and persist the MinHash dedup index of a corpus under `path`:
    * the shingle table (`shingles/`: id, sh) and the banded bucket table
    * (`buckets/`: id, band, bucket) as parquet, plus a `_meta` sidecar
    * recording the signature parameters, the id column's type and the
    * caller's corpus `version` — the [[graft.ops.Similarity.saveIvfIndex]]
    * lifecycle applied to dedup. The point at scale: a daily-crawl loop
    * that calls [[incrementalDedupKeep]] re-shingles and re-signs the
    * ENTIRE history every batch (O(history) compute per day); with the
    * index persisted, each batch pays its own signature build plus
    * disk-backed joins — O(batch) compute against O(history) I/O.
    *
    * `_meta` invalidates first (crash mid-build → retrain, never a stale
    * meta over new tables). The shingle table is scope-persisted across
    * its two writes. */
  def saveDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, version: String, k: Int,
                     numHashes: Int = 64, bands: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    writeIndexTables(docs, idCol, textCol, path, k, numHashes, bands,
      org.apache.spark.sql.SaveMode.Overwrite)
    writeIndexMeta(docs.sparkSession, path, Map("version" -> version, "k" -> k.toString,
      "numHashes" -> numHashes.toString, "bands" -> bands.toString,
      "idType" -> docs.schema(idCol).dataType.sql))
  }

  /** The `_meta` of a persisted dedup index: (version, k, numHashes,
    * bands); None if absent (→ caller rebuilds). */
  def readDedupIndexMeta(spark: SparkSession,
                         path: String): Option[(String, Int, Int, Int)] =
    readIndexMeta(spark, path).flatMap(indexParams)

  private def indexParams(kv: Map[String, String]): Option[(String, Int, Int, Int)] =
    for {
      v <- kv.get("version"); k <- kv.get("k")
      nh <- kv.get("numHashes"); b <- kv.get("bands")
    } yield (v, k.toInt, nh.toInt, b.toInt)

  private def indexFs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  /** Every `key=value` line of the index `_meta`; None if absent. */
  private def readIndexMeta(spark: SparkSession, path: String): Option[Map[String, String]] = {
    val fs = indexFs(spark, path)
    val meta = new org.apache.hadoop.fs.Path(path, "_meta")
    if (!fs.exists(meta)) return None
    val in = fs.open(meta)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .flatMap { l => l.split("=", 2) match {
        case Array(a, b) => Some(a -> b); case _ => None } }.toMap)
    finally in.close()
  }

  private def writeIndexMeta(spark: SparkSession, path: String,
                             kv: Map[String, String]): Unit = {
    val out = indexFs(spark, path).create(new org.apache.hadoop.fs.Path(path, "_meta"), true)
    try out.write(kv.map { case (a, b) => s"$a=$b\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Delete `_meta`, then write (or append) the shingle and bucket tables
    * of `docs`; the shingle table is persisted across its two writes. */
  private def writeIndexTables(docs: DataFrame, idCol: String, textCol: String,
                               path: String, k: Int, numHashes: Int, bands: Int,
                               mode: org.apache.spark.sql.SaveMode): Unit = {
    indexFs(docs.sparkSession, path).delete(new org.apache.hadoop.fs.Path(path, "_meta"), false)
    val sh = shingleTable(docs, idCol, textCol, k)
    sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sh.write.mode(mode).parquet(s"$path/shingles")
      lshBuckets(sh, numHashes, bands).write.mode(mode).parquet(s"$path/buckets")
    } finally sh.unpersist()
  }

  /** Append a (kept) batch to a persisted dedup index — the tail of the
    * daily loop: dedup the batch against the index, then index the
    * survivors so tomorrow's batch sees them. Parameters come from the
    * index's own `_meta` (a drifted k/hash setup would silently miss
    * duplicates — fail-loud instead, and so does a batch whose id type
    * differs from the one the index recorded); the caller supplies the
    * NEW corpus `version` the grown index describes.
    *
    * Crash discipline (the [[saveDedupIndex]] contract): `_meta` is
    * deleted BEFORE the appends and rewritten only after both tables
    * land. A crash mid-append — or a blind retry of a half-applied
    * append, which would double-count intersection shingles in every
    * later verification — leaves the index meta-less, so readers fail
    * loudly and the operator rebuilds; the index can never silently
    * serve partial or duplicated batch rows. */
  def appendDedupIndex(docs: DataFrame, idCol: String, textCol: String,
                       path: String, version: String): Unit = {
    val sp = docs.sparkSession
    val meta = readIndexMeta(sp, path).getOrElse(Map.empty)
    val (_, k, numHashes, bands) = indexParams(meta).getOrElse(
      throw new IllegalStateException(
        s"appendDedupIndex: no index _meta at $path — build with saveDedupIndex first"))
    meta.get("idType").foreach(requireIdType(path, _, docs.schema(idCol).dataType))
    writeIndexTables(docs, idCol, textCol, path, k, numHashes, bands,
      org.apache.spark.sql.SaveMode.Append)
    writeIndexMeta(sp, path, meta.updated("version", version))
  }

  private def requireIdType(path: String, stored: String,
                            idType: org.apache.spark.sql.types.DataType): Unit =
    require(stored == idType.sql,
      s"dedup index at $path stores ids as $stored, but the batch's id column " +
        s"is ${idType.sql}: cast the batch ids or rebuild the index (ids are never cast on read)")

  /** The persisted index's `(shingles, buckets)` tables under DECLARED
    * schemas (`id` typed as the caller's `idType`, `sh array<string>`,
    * `band int`, `bucket bigint`) — no schema-inference job per read, and
    * a streaming dedup reads them every micro-batch. `idType` must equal
    * the id type recorded in `_meta` when the index was built; an index
    * whose `_meta` predates that record has its stored schema inferred
    * once here instead. A mismatch fails loudly: the reader never casts
    * ids. */
  private[graft] def readDedupIndexTables(spark: SparkSession, path: String,
                                          idType: org.apache.spark.sql.types.DataType)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val stored = readIndexMeta(spark, path).flatMap(_.get("idType")).getOrElse(
      spark.read.parquet(s"$path/shingles").schema("id").dataType.sql)
    requireIdType(path, stored, idType)
    (spark.read.schema(new StructType().add("id", idType).add("sh", ArrayType(StringType)))
      .parquet(s"$path/shingles"),
     spark.read.schema(new StructType().add("id", idType).add("band", IntegerType)
        .add("bucket", LongType))
      .parquet(s"$path/buckets"))
  }

  /** [[incrementalDedupKeep]] against a PERSISTED index: history shingles
    * and buckets stream from disk under declared schemas
    * ([[readDedupIndexTables]]), so the per-batch compute is the batch's
    * own signature build — not a re-shingle of the whole history, and no
    * schema-inference job. The stored bucket table is SCANNED
    * (column-pruned) and restricted to batch-touched buckets by the shared
    * [[crossVerifiedPairs]] broadcast semi-join before any shuffle or
    * guard window — history is never shuffled; the shingle store is read
    * by verification (a disk-backed scan, no recompute). `maxBucketSize`
    * guards the history side with semantics identical to
    * [[crossMinHashLshPairs]].
    * Output: the batch keep-list — LAZY, and its plan reads the index:
    * materialize it (write it to its destination) BEFORE growing the
    * index with [[appendDedupIndex]]. A write action re-resolves parquet
    * sources, so an append-first order makes the keep plan re-list the
    * grown index and drop every batch doc as its own duplicate —
    * [[streamingDedup]] pins the safe order. */
  def incrementalDedupKeepIndexed(batch: DataFrame, idCol: String,
                                  textCol: String, path: String,
                                  threshold: Double,
                                  maxBucketSize: Int = Int.MaxValue): DataFrame = {
    requireThreshold(threshold)
    val sp = batch.sparkSession
    val (_, k, numHashes, bands) = readDedupIndexMeta(sp, path).getOrElse(
      throw new IllegalStateException(
        s"incrementalDedupKeepIndexed: no index _meta at $path"))
    val (histSh, histBk) = readDedupIndexTables(sp, path, batch.schema(idCol).dataType)
    val shb = shingleTable(batch, idCol, textCol, k)
    val bb = lshBuckets(shb, numHashes, bands)
    val matched = Caching.scoped(shb, bb)(
      crossVerifiedPairs(histBk, histSh, bb, shb, threshold, maxBucketSize))
    batch.join(matched.select(col("bench_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The daily-crawl dedup loop as a STREAM: each micro-batch dedups
    * against the persisted index ([[incrementalDedupKeepIndexed]]),
    * appends its SURVIVORS to both the kept-corpus sink at `outPath` and
    * the index ([[appendDedupIndex]]), so later batches see them. The
    * first batch bootstraps the index (nothing to dedup against).
    *
    * Ordering inside the batch matters and is pinned here: the keep-list
    * is written to its per-batch sink directory `outPath/batch=<id>`
    * BEFORE the index grows, and the index append reads that on-disk
    * copy — whose lineage is a plain file scan with no dependence on the
    * index. The naive order (append, then write the lazy keep plan) is a
    * trap this module hit in testing: a write action RE-RESOLVES its
    * parquet sources, so the keep plan re-lists the grown index and
    * drops every doc as its own duplicate. Caching does not close the
    * hole (command execution bypasses it); the disk round-trip does.
    *
    * Delivery: foreachBatch is at-least-once on restart, and every
    * replay window is handled explicitly: a replay of a FULLY-applied
    * batch (its append committed `_meta` as `batch-<id>`) is detected by
    * that version and becomes a no-op — re-running it would dedup the
    * batch against its own appended signatures and empty the sink; a
    * crash BEFORE the append replays cleanly (same index → same
    * keep-list → same sink overwrite); a crash MID-append leaves the
    * index meta-less over existing tables, which the restart refuses
    * loudly (bootstrap is only legal on a genuinely fresh path) — the
    * operator rebuilds the index from the kept corpus. Caller signature
    * parameters are checked against the index's `_meta` on every batch. */
  def streamingDedup(stream: DataFrame, idCol: String, textCol: String,
                     indexPath: String, outPath: String, checkpoint: String,
                     k: Int, threshold: Double,
                     numHashes: Int = 64, bands: Int = 32,
                     maxBucketSize: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.SaveMode
        val sp = batch.sparkSession
        val dest = s"$outPath/batch=$batchId"
        readDedupIndexMeta(sp, indexPath) match {
          // this exact batch already ran to completion (its append
          // committed the meta) and only the stream checkpoint was lost:
          // a full replay would dedup the batch against its OWN appended
          // signatures and overwrite the sink with an empty keep-list —
          // the committed version makes the replay a no-op instead
          case Some((v, _, _, _)) if v == s"batch-$batchId" => ()
          case None =>
            // bootstrap ONLY on a genuinely fresh path: a missing _meta
            // over existing tables is a half-applied append — rebuilding
            // from this batch alone would silently discard the whole
            // accumulated history index
            if (indexFs(sp, indexPath).exists(new org.apache.hadoop.fs.Path(indexPath, "shingles")))
              throw new IllegalStateException(
                s"streamingDedup: index at $indexPath has tables but no _meta " +
                  "— a crashed append left it inconsistent; rebuild with " +
                  "saveDedupIndex over the full kept corpus before restarting")
            batch.write.mode(SaveMode.Overwrite).parquet(dest)
            saveDedupIndex(sp.read.parquet(dest), idCol, textCol, indexPath,
              version = s"batch-$batchId", k, numHashes, bands)
          case Some((_, mk, mh, mb)) =>
            // the caller's signature parameters must match the index's —
            // silently deduping under different ones is the drift the
            // _meta exists to prevent
            require(mk == k && mh == numHashes && mb == bands,
              s"streamingDedup: index at $indexPath was built with " +
                s"(k=$mk, numHashes=$mh, bands=$mb), caller passed " +
                s"(k=$k, numHashes=$numHashes, bands=$bands)")
            incrementalDedupKeepIndexed(batch, idCol, textCol,
                indexPath, threshold, maxBucketSize)
              .write.mode(SaveMode.Overwrite).parquet(dest)
            appendDedupIndex(sp.read.parquet(dest), idCol, textCol, indexPath,
              version = s"batch-$batchId")
        }
      }
      .start()

  /** Dedup receipts: the cluster-size histogram a curation run is judged
    * by — one row per observed near-dup cluster size with how many
    * clusters have that size, how many docs they cover, and how many the
    * min-id (or keep-best) policy drops. Two bounded aggregates over the
    * member table (near-dup-sized), shuffling on cluster id then size. */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
      .orderBy("cluster_size")

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash fingerprint per doc: sign of the per-bit vote sum of
    * the hash of each distinct token. One explode + one aggregate.
    *
    * @param tokenHash per-token 64-bit hash. Default xxhash64 (codegen'd,
    *        the production path). The `dedup_simhash_md5` oracle entry
    *        passes an md5-derived hash instead — md5 is computable in the
    *        DuckDB twin, which makes the whole vote/banding/hamming
    *        pipeline hash-checkable end-to-end (xxhash64 itself has no
    *        SQL twin, so the production entry stays rows-only). */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"),
        explode(array_distinct(split(trim(lower(col(textCol))), "\\s+"))).as("w"))
      .withColumn("h", tokenHash(col("w")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tok.groupBy("id").agg(votes.head, votes.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), sim.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, found via
    * 4x16-bit block banding (pigeonhole: distance <= 3 guarantees a shared
    * block; larger distances are caught best-effort — same trade the
    * scale path always makes) then verified with bit_count. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame =
    hammingPairs(simHash(docs, idCol, textCol, tokenHash), "id", "simhash", maxDist)

  /** Near-dup pairs over ANY 64-bit fingerprint table `(id, fp)` —
    * Hamming distance <= maxDist via 4x16-bit block banding + bit_count
    * verify. Shared by [[simHashPairs]] (text fingerprints) and
    * [[Multimodal.decodeImageDHash]]'s perceptual image hashes: once a
    * modality is reduced to a 64-bit fingerprint, near-dup detection is
    * the same one-shuffle banded self-join. NULL fingerprints (e.g.
    * undecodable payloads) are excluded, never joined as a mega-group. */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String,
                   maxDist: Int): DataFrame = {
    val (sh, pairs) = hammingPairsPlan(fps, idCol, fpCol, Nil, maxDist)
    Caching.scoped(sh)(pairs)
  }

  /** [[hammingPairs]] restricted to equal `byCols` groups: banding happens
    * WITHIN each group key, so two fingerprints only ever meet when their
    * group keys match (e.g. a video's frame index — positional frame
    * voting, [[Multimodal.videoNearDupDHash]]). Output:
    * `(byCols..., id_a, id_b, hamming)`, one row per matched group key
    * per pair. Same 4x16 banding (recall guaranteed for maxDist <= 3). */
  def hammingPairsBy(fps: DataFrame, idCol: String, fpCol: String,
                     byCols: Seq[String], maxDist: Int): DataFrame = {
    val (sh, pairs) = hammingPairsPlan(fps, idCol, fpCol, byCols, maxDist)
    Caching.scoped(sh)(pairs)
  }

  /** The shared banded-self-join plan behind [[hammingPairs]] /
    * [[hammingPairsBy]], UNSCOPED: returns `(fingerprints, pairsPlan)` so
    * a caller that stacks more operators on the pairs (e.g. the vote
    * aggregate in [[Multimodal.videoNearDupDHash]]) can scope-cache the
    * fingerprint intermediate around its OWN final frame instead of
    * double-caching an already-persisted handle. The pairs plan consumes
    * `fingerprints` twice — callers must wrap their final frame in
    * `Caching.scoped(fingerprints)(...)`. */
  private[ops] def hammingPairsPlan(fps: DataFrame, idCol: String, fpCol: String,
                                    byCols: Seq[String], maxDist: Int): (DataFrame, DataFrame) = {
    // group keys must not shadow the plan's internals — a byCol named
    // "key" would bind the join condition to the BANDING key and band
    // across groups silently (or throw an ambiguity error, if lucky)
    val reserved = Set("id", "__fp", "bb", "blk", "key", "id_a", "id_b", "hamming")
    val clash = byCols.filter(reserved)
    require(clash.isEmpty,
      s"byCols collide with hammingPairs internal column names: ${clash.mkString(", ")} " +
        s"(reserved: ${reserved.toSeq.sorted.mkString(", ")})")
    // the banded self-join consumes the fingerprint table twice and its
    // exchanges alias differently (no AQE reuse) — without caching, the
    // whole upstream scan (or 64-vote aggregate) runs twice. The cached
    // table is one long (plus group keys) per doc; scope-cached by the
    // public wrappers (see Caching.scoped)
    val by = byCols.map(col)
    val sh = fps.select(by :+ col(idCol).as("id") :+ col(fpCol).as("__fp"): _*)
      .filter(col("__fp").isNotNull)
    val blocks = sh.select(by :+ col("id") :+ col("__fp") :+
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("blk"),
          shiftright(col("__fp"), b * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("bb"): _*)
      .select(by :+ col("id") :+ col("__fp") :+
        col("bb.blk").as("blk") :+ col("bb.key").as("key"): _*)
    val joinCond = (byCols.map(c => col(s"x.$c") === col(s"y.$c")) ++ Seq(
      col("x.blk") === col("y.blk"), col("x.key") === col("y.key"),
      col("x.id") < col("y.id"))).reduce(_ && _)
    val pairs = blocks.as("x").join(blocks.as("y"), joinCond)
      .select(byCols.map(c => col(s"x.$c").as(c)) ++ Seq(
        col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.__fp").bitwiseXOR(col("y.__fp"))).as("hamming")): _*)
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy(by ++ Seq(col("id_a"), col("id_b")): _*)
    (sh, pairs)
  }

  // --------------------------------------------------- line-level dedup

  /** Corpus-level exact LINE deduplication — boilerplate removal (the
    * CCNet/RefinedWeb step that strips nav menus, cookie banners, and
    * copyright footers BEFORE document-level dedup sees them): a trimmed
    * non-empty line occurring in at least `minDocs` DISTINCT documents is
    * boilerplate, and every occurrence is removed from every document.
    * Whitespace-only lines are never boilerplate (they carry layout, and
    * a corpus-wide "" group would be a guaranteed mega-group). Output:
    * `doc_id`, `text_clean` (surviving lines joined with '\n' in original
    * order; "" when everything dropped — the doc row itself is KEPT so
    * the caller can see what boilerplate-only docs existed), `lines_kept`,
    * `lines_dropped`.
    *
    * Scale shape: one shuffle on the trimmed line for the distinct-doc
    * counts (two-phase: partial (line, doc) dedup map-side first, so a
    * footer repeated across a partition contributes once, not n times),
    * one join of the lines table against the (small — only lines above
    * the threshold) boilerplate set, left to AQE to broadcast, and one
    * groupBy doc to reassemble. Reassembly sorts each doc's OWN lines by
    * position (`sort_array` on per-doc arrays) — no global sort, no
    * window. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    // NULL text behaves as "" (one empty kept line, like wordNgrams'
    // total-on-NULL convention) — posexplode(NULL) would otherwise emit
    // no rows and the doc would VANISH from the output, breaking the
    // "doc rows are always kept" contract below
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n", -1))
          .as(Seq("pos", "line")))
      .withColumn("__norm", trim(col("line")))
    val boiler = lines.filter(col("__norm") =!= "")
      .select(col("doc_id"), col("__norm")).distinct()
      .groupBy("__norm").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__norm"), lit(true).as("__boiler"))
    lines.join(boiler, Seq("__norm"), "left")
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(  // when() without otherwise → null →
          when(col("__boiler").isNull,  // collect_list skips dropped lines
            struct(col("pos"), col("line"))))).as("__kept"),
        count(lit(1)).as("__total"))
      .select(col("doc_id"),
        array_join(transform(col("__kept"), _.getField("line")), "\n")
          .as("text_clean"),
        size(col("__kept")).cast("long").as("lines_kept"),
        (col("__total") - size(col("__kept"))).cast("long").as("lines_dropped"))
      .orderBy("doc_id")
  }

  /** Exact duplicated-substring SPANS — the token-window form of exact
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": training corpora repeat long verbatim
    * passages inside otherwise-distinct documents, which document-level
    * dedup never sees): every k-token window whose exact text occurs in
    * at least `minDocs` DISTINCT documents is flagged, and per document
    * the flagged windows merge into MAXIMAL spans: windows whose token
    * ranges overlap or touch (start gap <= k) join one span, so spans
    * never overlap and their union is exactly the flagged token set —
    * what a caller that cuts or down-weights the spans needs (two
    * overlapping "spans" would cut shared tokens twice). Islands via
    * lag + running sum under a per-doc window, never a global sort.
    * Output per span: `doc_id`, `span_start` (0-based token index),
    * `span_len_tokens` (last window start − first + k), `n_windows`.
    * The windows themselves stay exact strings — no rolling-hash
    * collisions to adjudicate.
    *
    * Scale shape: the k-gram explode is k× token amplification (the
    * standard price of window dedup); distinct-doc counts aggregate
    * two-phase on the gram; the duplicated-gram set — tiny unless the
    * corpus is pathologically repetitive — comes back via a semi join
    * AQE can broadcast; island merging shuffles flagged windows only,
    * partitioned by doc. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int, minDocs: Long = 2): DataFrame =
    dupIslands(dupGramHits(docs, idCol, textCol, k, minDocs), k)
      .select(col("doc_id"),
        col("__start").cast("long").as("span_start"),
        (col("__end") - col("__start") + lit(k)).cast("long").as("span_len_tokens"),
        col("__n").cast("long").as("n_windows"))
      .orderBy("doc_id", "span_start")

  /** (doc_id, pos, gram) for every k-gram window whose gram occurs in
    * ≥ `minDocs` distinct documents — the shared first stage of
    * [[dupSpans]] and [[removeDupSpans]] (one gram shuffle, df filter). */
  private def dupGramHits(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, minDocs: Long): DataFrame = {
    GraftFunctions.register(docs.sparkSession) // grams use graft_word_ngrams
    require(k >= 2, s"k must be >= 2: $k")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.wordNgramsFast(col(textCol), k)).as(Seq("pos", "gram")))
    val dup = grams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select("gram")
    grams.join(dup, Seq("gram"), "left_semi")
  }

  /** Merge overlapping/touching hit windows into per-doc maximal islands:
    * (doc_id, __grp, __start, __end, __n). */
  private def dupIslands(hits: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      // island break where this window's range neither overlaps nor
      // touches the previous one (gap > k); lag is NULL on the first row
      // and the comparison's NULL falls to otherwise(1) — a new island
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("__grp",
        sum("__new").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__grp")
      .agg(min("pos").as("__start"), max("pos").as("__end"),
        count(lit(1)).as("__n"))
  }

  /** Exact duplicated-substring REMOVAL — the surgery half of
    * [[dupSpans]] (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", which removes all but one occurrence of
    * each duplicated substring). Keep-one is arbitrated PER GRAM: each
    * duplicated k-gram's OWNER is the minimum doc id containing it, and
    * a word position is cut iff it is covered by at least one NON-owned
    * duplicated window and by NO owned window. This guarantees every
    * duplicated gram's full window survives in its owner document — an
    * island-granular arbitration (first gram owns the whole merged span)
    * would let adjacent spans with different owners delete EVERY copy of
    * a passage corpus-wide, the data-loss case the review caught and the
    * spec now pins. Rebuilt text joins surviving words with single
    * spaces; untouched documents keep their original text VERBATIM (no
    * whitespace normalization).
    *
    * Distributed shape (the 100 TB path): one gram shuffle for the
    * df-filter aggregate, which also resolves each duplicated gram's
    * min-id owner (it is already grouped by gram — r16); hit windows
    * come back through that gram join; covered positions explode k× the
    * HIT volume (duplicated windows only, not the corpus) into one
    * grouped arbitration pass; the surgery then runs ONLY on touched
    * docs — word positions anti-joined against the drop set and one
    * per-doc sorted fold. Untouched docs are never retokenized. `drops`
    * feeds three consumers — scoped-cached for the single
    * materialization, released before return.
    *
    * @return (doc_id, text, removed_tokens) for EVERY input doc;
    *         eagerly materialized (the [[Caching.scoped]] contract) —
    *         long-lived callers should unpersist it when done */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, minDocs: Long = 2): DataFrame = {
    // r16 (guide §2.4 remove shuffles): ownership resolution used to be a
    // separate `groupBy(gram).min(doc_id)` over the hit stream plus a
    // join back onto it — but the df-filter aggregate ALREADY groups the
    // distinct (doc, gram) pairs by gram, so the min-id owner rides along
    // in that same aggregate and the hit semi-join becomes the inner join
    // that delivers it (one row per gram, no row multiplication). The
    // drop-set arbitration then collapses from two DISTINCTs + an
    // anti-join — which executed the covered-position explode TWICE — to
    // ONE grouped pass: a position is dropped iff its covering-window
    // group has no owned member (`!max(__own)`), the exact anti-join set.
    // Three exchanges and a second explode pass gone; `hits` now has a
    // single consumer, so only the (still multi-consumer) drop set caches.
    GraftFunctions.register(docs.sparkSession)
    require(k >= 2, s"k must be >= 2: $k")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.wordNgramsFast(col(textCol), k)).as(Seq("pos", "gram")))
    val dup = grams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("__df"), min("doc_id").as("__owner"))
      .filter(col("__df") >= minDocs).select("gram", "__owner")
    val covered = grams.join(dup, Seq("gram"))
      .select(col("doc_id"),
        (col("doc_id") === col("__owner")).as("__own"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
    val drops = covered.groupBy("doc_id", "pos")
      .agg(max(col("__own")).as("__has_own"))
      .filter(!col("__has_own")).select("doc_id", "pos")
    Caching.scoped(drops) {
      val touched = drops.select("doc_id").distinct()
      // the SAME word indexing the gram positions came from: split of the
      // 0x20-trimmed text with phantom empties kept (the WordNgrams kernel
      // contract) — any other tokenization would mis-align the spans
      val words = docs
        .select(col(idCol).as("doc_id"),
          posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
        .join(touched, Seq("doc_id"), "left_semi")
      val keptAgg = words.join(drops, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("__clean"))
      // every drop position is an in-bounds word index and the drop set is
      // position-distinct, so |drops per doc| IS the removed-token count —
      // no second corpus-wide word scan for totals
      val removed = drops.groupBy("doc_id").agg(count(lit(1)).as("__removed"))
      val rebuilt = removed
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__clean"), lit("")).as("__clean"), col("__removed"))
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__clean"), col("text")).as("text"),
          coalesce(col("__removed"), lit(0L)).as("removed_tokens"))
    }
  }
}
