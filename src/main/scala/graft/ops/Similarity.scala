package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, SrpBandBuckets, VecDotProduct}

/** Embedding similarity search: brute-force cosine top-k (the exact
  * baseline) and an IVF-style bucketed variant (the scale path).
  *
  * Vectors are `array<float>` columns; math is done in double with a
  * deterministic left-to-right fold (`aggregate`) so the DuckDB oracle
  * (`list_cosine_similarity` on the same parquet floats) agrees to ~1e-12
  * — outputs are rounded to 6 dp on both sides.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a composable fold. Correct but INTERPRETED (higher-order
    * functions don't codegen) — operators below use [[nativeDot]], the
    * custom Catalyst expression with `doGenCode`; this stays as the
    * dependency-free reference implementation (bit-identical results). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Native codegen'd dot product ([[graft.functions.VecDotProduct]]);
    * registers the function on the session idempotently. */
  def nativeDot(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.register(spark)
    call_function(VecDotProduct.Name, a, b)
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def nativeNorm(spark: SparkSession, a: Column): Column =
    sqrt(nativeDot(spark, a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector by full cross join —
    * O(nq × n). Correct baseline; at 100 TB use [[ivfTopK]].
    * `queries`: (q_id, q_vec); `data`: (vec_id, embedding).
    *
    * Norms are computed ONCE PER ROW before the join (not per pair —
    * that would redo an O(dim) fold nq times per vector); the per-pair
    * work is just the dot product. Same floating-point result: the
    * division sees identical operands. */
  def bruteForceTopK(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = data.sparkSession
    val qn = queries.withColumn("__qn", nativeNorm(sp, col("q_vec")))
    val dn = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    val joined = qn.crossJoin(dn)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", nativeDot(sp, col("q_vec"), col("embedding")) / (col("__qn") * col("__dn")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** The full k-NN GRAPH: every vector's top-k cosine neighbors within
    * the corpus itself (self excluded) — the structure SemDeDup-style
    * semantic analysis, kNN-LM retrieval and graph-based curation are
    * built on. Exact O(n²) self-join: the oracle baseline, and the right
    * tool up to ~10⁵ vectors per partition-pair; at corpus scale use
    * [[knnGraphIvf]], whose candidate volume is ~n·nProbe/nCentroids of
    * the quadratic. Output (q_id, vec_id, sim, rank), rank 1..k. */
  def knnGraph(data: DataFrame, k: Int): DataFrame =
    bruteForceTopK(data,
      data.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")), k)

  /** [[knnGraph]] at scale: IVF blocking with multi-probe. Each vector's
    * candidates are the members of its `nProbe` nearest Voronoi cells
    * (home-cell membership via one broadcast-centroid assignment), so the
    * pair volume drops from n² to ~n²·nProbe/nCentroids with balanced
    * cells — the standard recall/cost dial, and boundary vectors keep
    * their cross-cell neighbors as long as a probed cell holds them.
    * Approximate: recall vs [[knnGraph]] is asserted in the test suite;
    * with `trainIters=0` the centroids (first nCentroids by vec_id) and
    * therefore the whole graph are deterministic and oracle-expressible. */
  def knnGraphIvf(data: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
                  trainIters: Int = 0): DataFrame =
    ivfTopK(data,
      data.select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      k, nCentroids, nProbe, trainIters)

  /** All pairs (a < b) with cosine >= threshold — embedding near-dup.
    * Brute-force baseline (oracle twin exists); LSH/IVF blocking is the
    * scale path. Norms precomputed per row, as above. */
  def nearDupPairs(data: DataFrame, threshold: Double): DataFrame = {
    val sp = data.sparkSession
    val n = data.select(col("vec_id"), col("embedding"))
      .withColumn("__n", nativeNorm(sp, col("embedding")))
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("__n").as("__na"))
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("__n").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", nativeDot(sp, col("va"), col("vb")) / (col("__na") * col("__nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-dup at scale: block by spherical-k-means cluster,
    * generate candidate pairs only WITHIN a cluster, verify with the true
    * cosine. Near-duplicates (high threshold → tiny angular distance)
    * land in the same Voronoi cell with overwhelming probability, so the
    * quadratic pair generation runs per cluster (~(n/k)² each, linear
    * overall with balanced clusters) instead of n² — the standard
    * blocking trade [[nearDupPairs]] is the exact oracle for. */
  def nearDupPairsBlocked(data: DataFrame, threshold: Double,
                          nCentroids: Int, trainIters: Int = 2): DataFrame = {
    val sp = data.sparkSession
    // the within-cluster self-join consumes the assignment twice; without
    // caching, the broadcast-centroid scoring aggregate runs once per
    // side. Scope-cached: released once the pair output materializes
    val assigned = assignClusters(data, kMeansCentroids(data, nCentroids, trainIters))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("__n").as("__na"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("__n").as("__nb"))
    // pairs can't repeat — each vector belongs to exactly one cluster
    Caching.scoped(assigned)(
      a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
        .withColumn("sim", nativeDot(sp, col("va"), col("vb")) / (col("__na") * col("__nb")))
        .filter(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b"))
  }

  /** Embedding near-dup at scale, path 2: sign-random-projection (SRP)
    * LSH. Bit j of a vector's `bits`-bit signature is the sign of its dot
    * product with hyperplane j ([[graft.functions.SrpBandBuckets]] — a
    * codegen'd expression that folds each plane sum in array index order,
    * so signatures are bit-reproducible across runs and partitionings);
    * hyperplane components are Rademacher ±1 from a seeded hash —
    * deterministic, nothing stored, P[bits agree] = 1 − θ/π, the classic
    * SRP collision guarantee. Signatures band like MinHash-LSH;
    * candidates verify with the true cosine, so the output is an exact
    * SUBSET of [[nearDupPairs]] with recall governed by (bits, bands).
    *
    * Shuffles: ONE on (band, bucket) for the candidate self-join plus the
    * verify joins — signatures materialize at scan speed (no per-dim
    * explode, no aggregate). The defaults (256 bits / 32 bands = 8-bit
    * buckets, 256 per band) target PRODUCTION near-dup thresholds,
    * cosine ≥ 0.85: recall 0.99998 at 0.9 with random-pair band
    * collisions at ~2⁻⁸. Know the regime before trusting the banding —
    * with per-bit agreement p₁ = 1 − θ/π for true pairs and p₀ ≈ ½ for
    * random ones, candidate volume scales ~n^(1+ρ), ρ =
    * ln(1/p₁)/ln(1/p₀): ρ ≈ 0.22 at cosine 0.9 but ≈ 0.63 at 0.45, so
    * below ≈ 0.6 the per-bit gap over random collapses and NO banding
    * avoids near-quadratic candidates — use [[nearDupPairsBlocked]]
    * (k-means blocking) for moderate-threshold near-dup instead. */
  def nearDupPairsSrp(data: DataFrame, threshold: Double,
                      bits: Int = 256, bands: Int = 32): DataFrame = {
    require(bands > 0 && bits % bands == 0 && bits / bands <= 63,
      s"bands ($bands) must be positive, divide bits ($bits), with <= 63 rows per band")
    val sp = data.sparkSession
    GraftFunctions.register(sp)
    val buckets = data.select(col("vec_id"),
      posexplode(call_function(SrpBandBuckets.Name,
        col("embedding"), lit(bits), lit(bands))).as(Seq("band", "bucket")))
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val n = data.select(col("vec_id"), col("embedding"))
      .withColumn("__n", nativeNorm(sp, col("embedding")))
    // buckets feeds both self-join sides, n both verify joins —
    // scope-cached, released once the (small) pair output materializes
    Caching.scoped(buckets, n)(
      cand
        .join(n.select(col("vec_id").as("id_a"), col("embedding").as("va"),
          col("__n").as("__na")), "id_a")
        .join(n.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
          col("__n").as("__nb")), "id_b")
        .withColumn("sim",
          nativeDot(sp, col("va"), col("vb")) / (col("__na") * col("__nb")))
        .filter(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b"))
  }

  /** Semantic deduplication end product (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): collapse embedding-space near-duplicates into
    * components and keep one canonical document per component — the
    * "templated page / boilerplate variant" pruning step that exact and
    * MinHash dedup miss because the texts differ while the MEANING
    * repeats. Pipeline: candidate pairs above `threshold` from `pairsFn`
    * (default [[nearDupPairsSrp]], the high-threshold LSH scale path;
    * pass `nearDupPairsBlocked(_, _, k)` for moderate thresholds or
    * [[nearDupPairs]] as the exact oracle baseline), transitive closure
    * via [[Dedup.nearDupClusters]] (union-find inside adaptive partitions),
    * then [[Dedup.dropNearDuplicates]]'s broadcast anti-join. Canonical
    * choice is the deterministic min id (the paper keeps the member
    * farthest from its centroid; min-id is reproducible run-over-run and
    * engine-independent, which the oracle twin requires).
    *
    * Plan shape at 100 TB: pair generation dominates (see `pairsFn`'s own
    * scaling notes); closure runs over the pair graph only — near-dups,
    * not the corpus — and the final anti-join broadcasts the drop list. */
  def semDedupKeep(data: DataFrame, threshold: Double,
                   pairsFn: (DataFrame, Double) => DataFrame = nearDupPairsSrp(_, _)): DataFrame = {
    val pairs = pairsFn(data, threshold)
    // nearDupClusters is EAGER (its labels are a local checkpoint), so the
    // persisted pair handle the LSH paths return (Caching.scoped
    // contract) is fully consumed when it returns — release it here,
    // not at session teardown; the keep-list plan reads only the
    // checkpointed labels
    val clusters =
      try Dedup.nearDupClusters(pairs.select("id_a", "id_b"))
      finally pairs.unpersist(blocking = false)
    Dedup.dropNearDuplicates(data.select("vec_id"), "vec_id", clusters)
  }

  /** Cluster-balanced (diversity) sampling — the per-cluster quota step
    * public curation pipelines run between semantic clustering and the
    * training mix (the DataComp / SemDeDup-adjacent shape: cap each
    * embedding cluster at `perCluster` members so boilerplate-dense head
    * clusters stop dominating the sample while tail clusters survive
    * whole). Members rank inside their cluster by md5 of their id —
    * deterministic, corpus-order-free, the same band-hash discipline as
    * `Corpus.sampleFraction` — and the first `perCluster` survive.
    *
    * Distributed shape (the 100 TB path): nearest-centroid assignment is
    * a broadcast aggregate ([[assignClusters]] — no shuffle beyond the
    * grouped argmax), and the per-cluster top-k is TWO-PHASE: a first
    * row_number over (cluster, salt) buckets bounds survivors to
    * `salts × perCluster` per cluster before the exact per-cluster rank,
    * so a head cluster holding a billion members never sorts them in one
    * task — any row in the true per-cluster top-k is also in its salted
    * bucket's top-k, so the pre-filter is lossless. Returns
    * `(vec_id, cluster, rank)`, rank 1-based in hash order. */
  def clusterSample(data: DataFrame, centroids: DataFrame, perCluster: Int,
                    salts: Int = 32): DataFrame = {
    require(perCluster > 0, s"perCluster must be > 0: $perCluster")
    require(salts > 0, s"salts must be > 0: $salts")
    import org.apache.spark.sql.expressions.Window
    val assigned = assignClusters(data, centroids)
      .select(col("vec_id"), col("cluster"),
        md5(col("vec_id").cast("string")).as("__h"))
    val pre = Window.partitionBy(col("cluster"),
        pmod(xxhash64(col("vec_id")), lit(salts.toLong)))
      .orderBy(col("__h"), col("vec_id"))
    val fin = Window.partitionBy("cluster").orderBy(col("__h"), col("vec_id"))
    assigned
      .withColumn("__pr", row_number().over(pre))
      .filter(col("__pr") <= perCluster)
      .withColumn("rank", row_number().over(fin).cast("long"))
      .filter(col("rank") <= perCluster)
      .select(col("vec_id"), col("cluster"), col("rank"))
  }

  /** Nearest-centroid assignment shared by k-means iterations and the
    * blocked near-dup: broadcast centroids, one max_by aggregate →
    * `(vec_id, cluster, embedding, __n)` with a deterministic tiebreak
    * (highest cosine, then lowest centroid id). */
  private def assignClusters(data: DataFrame, centroids: DataFrame): DataFrame = {
    val sp = data.sparkSession
    val bc = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    data.select(col("vec_id"), col("embedding"))
      .withColumn("__n", nativeNorm(sp, col("embedding")))
      .crossJoin(bc)
      .withColumn("__csim",
        nativeDot(sp, col("embedding"), col("c_vec")) / (col("__n") * col("__cn")))
      .groupBy("vec_id")
      .agg(max_by(col("c_id"), struct(col("__csim"), -col("c_id"))).as("cluster"),
        first(col("embedding")).as("embedding"), first(col("__n")).as("__n"))
  }

  /** Spherical k-means centroids for IVF (Lloyd's iterations with cosine
    * assignment and normalized-mean updates — the metric must match the
    * IVF probe metric or cluster boundaries disagree with search).
    *
    * Distributed shape per iteration: broadcast the (tiny) centroid set,
    * one aggregate finds each vector's best centroid, `posexplode` +
    * one aggregate computes per-dimension means — two shuffles of n rows
    * and n×dim (cluster, pos) rows respectively, no driver data except
    * the centroids themselves. Initialization is a deterministic
    * hash-order sample (cheap k-means++ stand-in; seeds spread because
    * xxhash64 is uniform). Empty clusters keep their previous centroid. */
  def kMeansCentroids(data: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    val sp = data.sparkSession
    var cents = data
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      .orderBy(xxhash64(col("c_id")), col("c_id"))
      .limit(nCentroids)
    for (_ <- 0 until iters) {
      val assigned = assignClusters(data, cents)
      val dims = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(avg(col("v")).as("m"))
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster").as("c_id"),
          transform(col("pm"), e => e.getField("m").cast("float")).as("c_vec"))
      // keep previous centroids for clusters that lost every member
      val updated = cents.as("old")
        .join(dims.as("new"), Seq("c_id"), "left_outer")
        .select(col("c_id"), coalesce(col("new.c_vec"), col("old.c_vec")).as("c_vec"))
      // each iteration's plan feeds the next — materialize the (tiny)
      // centroid table so lineage doesn't stack k plans deep
      cents = sp.createDataFrame(
        java.util.Arrays.asList(updated.collect(): _*), updated.schema)
    }
    cents
  }

  /** Per-dimension embedding profile — the receipts that normalization /
    * whitening and embedding-drift monitoring read: count, mean,
    * population std, min and max per dimension, one row per dim
    * (1-based).
    *
    * Determinism contract (the [[quantizeInt8]] discipline, applied to
    * aggregation): float sums over shuffled rows are order-dependent, so
    * values are first scaled to INTEGERS — `floor(v·2^24 + 0.5)` for the
    * first moment, `floor(v·2^12 + 0.5)` for the second (the coarser
    * scale keeps Σiv² exactly representable in double after the exact
    * DECIMAL sum; σ quantization error ≤ ~3e-4, a receipts-grade trade) —
    * and summed as decimals, which are exact and order-independent; the
    * DuckDB twin's HUGEINT sums see the identical integers (floor and
    * power-of-two multiplies are engine-independent, no round()
    * half-mode). One shuffle on the dim key (map-side combined, #dims
    * output rows); min/max are exact float comparisons. */
  def dimStats(data: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val s1 = (1L << 24).toDouble
    val s2 = (1L << 12).toDouble
    val x = data
      .select(posexplode(col(vecCol)).as(Seq("dim0", "vf")))
      .select((col("dim0") + 1).cast("long").as("dim"),
        col("vf").cast("double").as("v"))
      .select(col("dim"), col("v"),
        // straight to decimal: a Long square would overflow SILENTLY for
        // |v| ≳ 7e5 (wrong std exactly on the pathological input drift
        // receipts exist to catch) while the DuckDB twin errors; decimal
        // keeps sane magnitudes exact and makes absurd ones fail loudly
        // on BOTH engines
        floor(col("v") * s1 + lit(0.5)).cast("decimal(38,0)").as("iv1"),
        floor(col("v") * s2 + lit(0.5)).cast("decimal(38,0)").as("iv2"))
    val g = x.groupBy("dim").agg(
      count(lit(1)).as("n"),
      sum(col("iv1")).as("sv"),
      sum(col("iv2") * col("iv2")).as("sv2"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    val mean = g("sv").cast("double") / s1 / g("n")
    val ex2 = g("sv2").cast("double") / (s2 * s2) / g("n")
    g.select(col("dim"), col("n"),
        round(mean, 6).as("mean"),
        round(sqrt(greatest(lit(0.0), ex2 - mean * mean)), 6).as("std"),
        round(col("mn"), 6).as("min_v"),
        round(col("mx"), 6).as("max_v"))
      .orderBy("dim")
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * vector-compression step before ANN at scale (4× smaller than float32,
    * SIMD-friendly dot products). Per-vector scale = 127/max|xᵢ|;
    * qᵢ = floor(xᵢ·scale + 0.5) clamped to [-127, 127].
    *
    * `floor(x + 0.5)` instead of `round(x)` is deliberate: floor and the
    * multiply are correctly-rounded IEEE ops, identical in every engine,
    * while round()'s half-mode differs (HALF_UP vs banker's) — so the
    * DuckDB oracle matches bit-exactly. Shuffle-free: one projection, runs
    * at scan speed. The zero vector gets scale 0 and an all-zero code. */
  def quantizeInt8(data: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val absMax = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    data
      // scale in its OWN projection: referencing it inside the transform
      // lambda below would otherwise re-evaluate the array_max subtree per
      // ELEMENT (interpreted HOFs re-run argument subtrees — the O(d²)
      // trap); a multi-referenced non-cheap projection survives
      // CollapseProject, so this stays one pass
      .select(col("vec_id"), col(vecCol),
        when(absMax > 0.0, lit(127.0) / absMax).otherwise(lit(0.0)).as("__scale"))
      .select(
        col("vec_id"),
        round(col("__scale"), 6).as("scale"),
        transform(col(vecCol), x =>
          greatest(lit(-127), least(lit(127),
            floor(x.cast("double") * col("__scale") + lit(0.5)).cast("int")))).as("qvec"))
  }

  /** Persist a trained centroid table as an on-disk IVF index:
    * `<path>/centroids/` (parquet) + `<path>/_meta` (corpus identity) —
    * the same sidecar pattern as the reference's `.schema` file
    * (`partmgr.go:228-264`): a small artifact describing the layout so a
    * NEW driver/JVM probes the existing index instead of re-running
    * Lloyd's over the corpus. `version` is the caller's corpus identity
    * (data path + snapshot id); load refuses a mismatch. */
  def saveIvfIndex(centroids: DataFrame, path: String, version: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val sp = centroids.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), sp.sparkContext.hadoopConfiguration)
    // invalidate BEFORE touching centroids: a crash mid-save must leave a
    // missing _meta (→ retrain), never a stale _meta describing new data
    fs.delete(new org.apache.hadoop.fs.Path(path, "_meta"), false)
    val cents = centroids.select(col("c_id"), col("c_vec"))
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    writeMeta(fs, path, "_meta", "version" -> version, schemaEntry("centroids", cents))
  }

  /** Load a persisted IVF index if present AND built for this `version`;
    * None (→ caller retrains) otherwise. Reads under the recorded schema
    * ([[readIndexTable]]). */
  def loadIvfIndex(spark: SparkSession, path: String, version: String): Option[DataFrame] =
    loadIndexTable(spark, path, "_meta", version, "centroids")

  /** The production index lifecycle in one call: load the on-disk index
    * for `version`, or train ([[kMeansCentroids]]), persist, and return
    * it. Training cost is paid once per corpus version — across JVMs,
    * not per driver as a memory-only cache would. */
  def trainOrLoadIvfIndex(data: DataFrame, path: String, version: String,
                          nCentroids: Int, iters: Int): DataFrame =
    loadIvfIndex(data.sparkSession, path, version).getOrElse {
      val cents = kMeansCentroids(data, nCentroids, iters)
      saveIvfIndex(cents, path, version)
      // serve from the persisted copy so every caller reads one plan shape
      loadIvfIndex(data.sparkSession, path, version).get
    }

  /** IVF-style approximate top-k: partition the corpus into `nCentroids`
    * Voronoi cells (spherical k-means when `trainIters` > 0; deterministic
    * seed vectors otherwise), assign every vector to its nearest centroid
    * (broadcast join — centroids are tiny), then search only the
    * `nProbe` clusters nearest to each query. Cuts the scan to
    * ~nProbe/nCentroids of the data — the standard recall/cost dial. */
  def ivfTopK(data: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int, trainIters: Int = 0): DataFrame = {
    val centSrc =
      if (trainIters > 0) kMeansCentroids(data, nCentroids, trainIters)
      else data.orderBy("vec_id").limit(nCentroids)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    ivfTopKWith(data, queries, k, centSrc, nProbe)
  }

  /** [[ivfTopK]] against a PRE-TRAINED centroid table `(c_id, c_vec)` —
    * the production shape: the index (centroids) is built once per corpus
    * version and amortized over every query batch, instead of re-running
    * Lloyd's per call. */
  def ivfTopKWith(data: DataFrame, queries: DataFrame, k: Int,
                  centroids: DataFrame, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    val queriesN = queries.withColumn("__qn", nativeNorm(sp, col("q_vec")))
    val assigned = assignTopN(sp, cents, dataN, "embedding", "__dn", "cluster", 1)
    val probed = assignTopN(sp, cents, queriesN, "q_vec", "__qn", "cluster", nProbe)
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    probed.join(assigned, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim", nativeDot(sp, col("q_vec"), col("embedding")) / (col("__qn") * col("__dn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Top-`n` nearest centroids per row of `df` (cosine desc, c_id
    * tiebreak) — the assignment step shared by [[ivfTopKWith]] (home
    * cell + query probes) and [[ivfPqTopKWith]]. `cents` must already be
    * broadcast and carry `__cn`. */
  private def assignTopN(sp: SparkSession, cents: DataFrame, df: DataFrame,
                         vec: String, nrm: String, outCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(df.columns.head).orderBy(col("__csim").desc, col("c_id"))
    df.crossJoin(cents)
      .withColumn("__csim", nativeDot(sp, col(vec), col("c_vec")) / (col(nrm) * col("__cn")))
      .withColumn("__crk", row_number().over(w))
      .filter(col("__crk") <= n)
      .withColumnRenamed("c_id", outCol)
      .drop("c_vec", "__cn", "__csim", "__crk")
  }

  /** SEMANTIC eval-set decontamination: drop every corpus vector whose
    * embedding sits within cosine `threshold` of ANY eval-set embedding —
    * the embedding-space complement of the n-gram paths
    * ([[TextAnalysis.benchmarkOverlap]] exact, fuzzy cross-LSH): a
    * paraphrased benchmark prompt shares no 8-gram but keeps its
    * embedding neighborhood. Contact between corpus and eval happens
    * ONLY through shared IVF cells (`evals` probe their `nProbe` nearest
    * of the `centroids` cells; corpus vectors sit in their home cell) —
    * the candidate volume is the probed-cell fraction of the corpus
    * times the (tiny) eval set, never the full cross product. Approx in
    * the same sense as [[ivfTopKWith]]: a contaminated vector whose home
    * cell escapes all of its eval's probes survives; raise `nProbe` for
    * recall. `evals` schema: `(e_id, e_vec)`. Returns the KEPT corpus
    * `vec_id`s, ordered. */
  def semanticDecontaminate(data: DataFrame, evals: DataFrame, threshold: Double,
                            centroids: DataFrame, nProbe: Int): DataFrame = {
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    val evalsN = evals.select(col("e_id"), col("e_vec"))
      .withColumn("__en", nativeNorm(sp, col("e_vec")))
    val assigned = assignTopN(sp, cents, dataN, "embedding", "__dn", "cluster", 1)
    val probed = assignTopN(sp, cents, evalsN, "e_vec", "__en", "cluster", nProbe)
    val contaminated = probed.join(assigned, "cluster")
      .withColumn("__sim",
        nativeDot(sp, col("e_vec"), col("embedding")) / (col("__en") * col("__dn")))
      .filter(col("__sim") >= threshold)
      .select("vec_id").distinct()
    // the eval side is benchmark-sized: AQE broadcasts the anti-join
    data.select("vec_id").join(contaminated, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** IVF-PQ-shaped quantized ANN ([[ivfTopK]] with pinned first-N
    * centroids; see [[ivfPqTopKWith]] for the mechanism). */
  def ivfPqTopK(data: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int, nProbe: Int, refine: Int,
                trainIters: Int = 0): DataFrame = {
    val centSrc =
      if (trainIters > 0) kMeansCentroids(data, nCentroids, trainIters)
      else data.orderBy("vec_id").limit(nCentroids)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    ivfPqTopKWith(data, queries, k, centSrc, nProbe, refine)
  }

  /** IVF-PQ-shaped quantized ANN: the memory shape a billion-vector
    * index needs. The INDEX holds each vector's home cell plus its int8
    * code ([[quantizeInt8]] — 4× smaller than float32) and the code's
    * norm; the probe scan ranks candidates by the ASYMMETRIC quantized
    * similarity — cosine between the float query and the int8 code,
    * which equals cosine against the dequantized vector because the
    * per-vector scale cancels in the ratio (so no division and no
    * zero-scale hazard) — and only the top `refine` candidates per query
    * fetch their FLOAT vectors for exact re-ranking to top `k`. Float
    * I/O is refine·#queries rows instead of the whole probed volume;
    * the bulk scan reads codes only.
    *
    * Distributed shape: centroids broadcast; one shuffle to co-locate
    * probes with cells; per-query top-refine and top-k are window ranks
    * over candidate-sized frames; the float re-rank join is
    * shortlist-sized (AQE broadcasts it at any realistic refine). */
  def ivfPqTopKWith(data: DataFrame, queries: DataFrame, k: Int,
                    centroids: DataFrame, nProbe: Int, refine: Int): DataFrame =
    ivfPqTopKWithCodes(data, queries, k, centroids,
      buildPqCodes(data, centroids), nProbe, refine)

  /** The quantized half of an IVF-PQ index, built inline: home cell +
    * int8 code ([[quantizeInt8]]) + code norm per vector. Schema
    * `(vec_id, cluster, qvec: array<int>, qnorm: double)` — exactly what
    * [[saveIvfPqCodes]] persists, so the build-inline and load-from-disk
    * serving paths are the same code. */
  def buildPqCodes(data: DataFrame, centroids: DataFrame): DataFrame = {
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    // code norm computed over the float-cast code — int8 values are
    // float-exact, so this equals the norm the probe scan recomputes
    val codes = quantizeInt8(data)
      .select(col("vec_id"), col("qvec"))
      .withColumn("qnorm", nativeNorm(sp, col("qvec").cast("array<float>")))
    assignTopN(sp, cents, dataN, "embedding", "__dn", "cluster", 1)
      .select("vec_id", "cluster").join(codes, "vec_id")
  }

  /** Persist the quantized half of an IVF-PQ index alongside a saved
    * centroid index: `<path>/codes/` + `<path>/_codes_meta` (same
    * invalidate-meta-first crash discipline as [[saveIvfIndex]]). The
    * codes table is the 4×-smaller artifact the billion-vector probe
    * scan reads INSTEAD of the float vectors — persisting it moves
    * quantization from per-query-batch to once-per-corpus-version. */
  def saveIvfPqCodes(codes: DataFrame, path: String, version: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val sp = codes.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), sp.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_codes_meta"), false)
    val out = codes.select(col("vec_id"), col("cluster"), col("qvec"), col("qnorm"))
    out.write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    writeMeta(fs, path, "_codes_meta", "version" -> version, schemaEntry("codes", out))
  }

  /** Load persisted IVF-PQ codes if present AND built for this
    * `version`; None (→ caller rebuilds) otherwise. */
  def loadIvfPqCodes(spark: SparkSession, path: String,
                     version: String): Option[DataFrame] =
    loadIndexTable(spark, path, "_codes_meta", version, "codes")

  /** `<path>/<table>` under `metaName`'s recorded schema if that meta is
    * stamped with `version`; None otherwise. */
  private def loadIndexTable(spark: SparkSession, path: String, metaName: String,
                             version: String, table: String): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val meta = readMeta(fs, path, metaName)
    if (!meta.get("version").contains(version)) None
    else Some(readIndexTable(spark, path, table, meta))
  }

  /** Incrementally append a NEW embedding batch to a persisted IVF-PQ
    * index — the daily-crawl loop for ANN (the
    * `Dedup.appendDedupIndex` discipline applied to vectors): assign
    * and quantize ONLY the batch against the EXISTING centroids (no
    * retraining, no re-quantization of history), append its codes, and
    * stamp the index's new corpus `version`. Meta is invalidated FIRST
    * and restamped LAST, so a crash mid-append leaves a meta-less codes
    * dir that loaders refuse (→ rebuild) — the index can never silently
    * serve a partial batch. Centroids age as the distribution drifts;
    * retraining cadence is the caller's policy (rebuild via
    * [[trainOrLoadPqIndex]] under a fresh version). */
  def appendPqCodes(batch: DataFrame, path: String, version: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val sp = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), sp.sparkContext.hadoopConfiguration)
    // BOTH halves must be whole before extending: a meta-less centroid
    // index is mid-build/crashed, and a meta-less CODES dir means either
    // no code base exists yet (appending would stamp a batch-only index
    // that silently misses the base corpus) or a prior append crashed
    // mid-write (appending again would duplicate the retried batch's
    // rows — duplicate vec_ids occupy two shortlist ranks and displace
    // true neighbors). Refuse loudly; rebuild via trainOrLoadPqIndex.
    for ((m, what) <- Seq("_meta" -> "centroid index", "_codes_meta" -> "codes base"))
      if (!fs.exists(new org.apache.hadoop.fs.Path(path, m)))
        throw new IllegalStateException(
          s"appendPqCodes: no $m at $path ($what missing or torn) — " +
            "build with trainOrLoadPqIndex first")
    val metas = Seq("_meta", "_codes_meta", "_pq_meta")
      .map(m => m -> readMeta(fs, path, m)).toMap
    val cents = readIndexTable(sp, path, "centroids", metas("_meta"))
    // crash discipline: invalidate EVERY present meta first (a crash
    // mid-append leaves a fully-refused index → rebuild), restamp all
    // with the NEW version last — restamping only _codes_meta would
    // desync the halves: a later trainOrLoadPqIndex at the new version
    // would RETRAIN centroids (stale _meta fails its check) yet accept
    // the appended codes, whose cluster ids were assigned under the OLD
    // centroids — silently wrong ANN results. A co-located true-PQ half
    // (_pq_meta) extends under the same rule, encoded per its own kind
    // stamp (the cross-half desync, review-caught in r8).
    val pqMeta = metas("_pq_meta")
    val adcKind: Option[String] =
      if (pqMeta.isEmpty) None else Some(pqMeta.getOrElse("kind", "raw"))
    requireConsistentMetaVersions(fs, path,
      Seq("_meta", "_codes_meta", "_pq_meta"), "appendPqCodes")
    (Seq("_codes_meta", "_meta") ++ adcKind.map(_ => "_pq_meta").toSeq)
      .foreach(m => fs.delete(new org.apache.hadoop.fs.Path(path, m), false))
    buildPqCodes(batch, cents)
      .write.mode(SaveMode.Append).parquet(s"$path/codes")
    adcKind.foreach { kind =>
      val cbs = readIndexTable(sp, path, "pq_codebooks", pqMeta)
      val enc =
        if (kind == "residual") pqBuildIndexResidual(batch, cents, cbs)
        else pqBuildIndex(batch, cents, cbs)
      enc.write.mode(SaveMode.Append).parquet(s"$path/pq_codes")
    }
    Seq("_meta", "_codes_meta").foreach(m => restamp(fs, path, m, metas(m), version))
    adcKind.foreach(kind => restamp(fs, path, "_pq_meta", pqMeta, version, "kind" -> kind))
  }

  /** The full IVF-PQ index lifecycle: centroids via
    * [[trainOrLoadIvfIndex]] (shared with the plain-IVF serving path —
    * one training per corpus version covers both), codes loaded from the
    * same index directory or built once ([[buildPqCodes]]) and
    * persisted. Returns (centroids, codes) ready for
    * [[ivfPqTopKWithCodes]]. */
  def trainOrLoadPqIndex(data: DataFrame, path: String, version: String,
                         nCentroids: Int, iters: Int): (DataFrame, DataFrame) = {
    val cents = trainOrLoadIvfIndex(data, path, version, nCentroids, iters)
    val codes = loadIvfPqCodes(data.sparkSession, path, version).getOrElse {
      saveIvfPqCodes(buildPqCodes(data, cents), path, version)
      // serve from the persisted copy so every caller reads one plan shape
      loadIvfPqCodes(data.sparkSession, path, version).get
    }
    (cents, codes)
  }

  // ------------------------------------------ true product quantization

  /** Per-subspace codebooks for TRUE product quantization (Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search"): the
    * embedding splits into `m` contiguous subspaces of dim/m dims, each
    * with its own `ksub`-codeword codebook; a vector's code is then m
    * SMALL ids (one byte each at ksub ≤ 256) instead of dim floats —
    * dim·4 bytes → m bytes, 32× at (dim 64, m 8) vs the int8 path's 4×.
    * That is the memory shape that makes a billion-vector index
    * RAM-resident, which is why PQ (not scalar quantization) is what
    * FAISS-style systems ship.
    *
    * `iters = 0` pins each subspace's codebook to the first `ksub`
    * vectors' subvectors (deterministic, oracle-replayable — the
    * trainIters=0 discipline of [[ivfTopK]]); `iters > 0` runs
    * per-subspace Lloyd's with L2 assignment (the PQ metric), ALL
    * subspaces in one loop keyed by (sub, code) — m codebooks cost one
    * pass per iteration, not m passes.
    *
    * Schema: `(sub, code_id, cw: array<float>, cw_sq: double)` —
    * code_id dense 0..ksub-1 within each sub (the LUT index), cw_sq =
    * ||cw||² (the encode-time norm ingredient). */
  def pqCodebooks(data: DataFrame, m: Int, ksub: Int, iters: Int): DataFrame = {
    val sp = data.sparkSession
    require(ksub > 0, s"ksub must be > 0: $ksub")
    // seed: the first ksub vectors' subvectors, code_id = rank by vec_id.
    // ONE probe job: the seed rows also carry the dimensionality, so the
    // separate size() head() job is folded into the seed collect (r15,
    // guide §1.2 — every .head()/collect() is a whole job; the PQ
    // entries string several together and the constants add up)
    val seedRows = data.select(col("vec_id"), size(col("embedding")).as("__d"))
      .orderBy("vec_id").limit(ksub).collect()
    require(seedRows.nonEmpty, "pqCodebooks: empty corpus")
    val dim = seedRows.head.getInt(1)
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val subs = subVectors(data, m, dsub)
    val seedIds = seedRows.map(_.getLong(0)).zipWithIndex
    import sp.implicits._
    val seedMap = broadcast(seedIds.toSeq.toDF("vec_id", "code_id"))
    var cbs = subs.join(seedMap, "vec_id")
      .select(col("sub"), col("code_id"), col("sv").as("cw"))
      .withColumn("cw_sq", nativeDot(sp, col("cw"), col("cw")))
    for (_ <- 0 until iters) {
      val bc = broadcast(cbs)
      // L2 argmin via argmax(2·x·c − ||c||²) — ||x||² is constant per
      // (vector, sub) and drops out; ties break to the lowest code_id
      val assigned = subs.join(bc, Seq("sub"))
        .withColumn("__score",
          lit(2.0) * nativeDot(sp, col("sv"), col("cw")) - col("cw_sq"))
        .groupBy("vec_id", "sub")
        .agg(max_by(col("code_id"), struct(col("__score"), -col("code_id"))).as("code_id"),
          first(col("sv")).as("sv"))
      val upd = assigned
        .select(col("sub"), col("code_id"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("sub", "code_id", "pos").agg(avg(col("v")).as("mv"))
        .groupBy("sub", "code_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("sub"), col("code_id"),
          transform(col("pm"), e => e.getField("mv").cast("float")).as("cw"))
      // empty codes keep their previous codeword (the kMeansCentroids rule)
      val merged = cbs.as("old").join(upd.as("new"), Seq("sub", "code_id"), "left_outer")
        .select(col("sub"), col("code_id"),
          coalesce(col("new.cw"), col("old.cw")).as("cw"))
        .withColumn("cw_sq", nativeDot(sp, col("cw"), col("cw")))
      // materialize the (m·ksub-row) table so lineage doesn't stack
      cbs = sp.createDataFrame(
        java.util.Arrays.asList(merged.collect(): _*), merged.schema)
    }
    cbs
  }

  /** `(vec_id, sub, sv)`: the m contiguous subvectors of each row. */
  private def subVectors(data: DataFrame, m: Int, dsub: Int): DataFrame =
    data.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("embedding"))
      .withColumn("sv", slice(col("embedding"), col("sub") * dsub + 1, lit(dsub)))
      .select("vec_id", "sub", "sv")

  /** PQ-encode a corpus against trained [[pqCodebooks]]: each vector's m
    * sub-quantizer code ids (L2-nearest codeword per subspace, ties to
    * the lowest id) plus the reconstruction's norm √Σ_m ||cw_chosen||²
    * — the ADC cosine denominator, stored at encode time so the probe
    * scan never touches floats. Schema `(vec_id, pq_code: array<int>,
    * pq_norm: double)`. Codebooks broadcast; one grouped argmin per
    * (vector, sub); output is the m-byte-per-vector index artifact. */
  def pqEncode(data: DataFrame, codebooks: DataFrame): DataFrame = {
    val sp = data.sparkSession
    // ONE scalar-probe job, not two (r15 guide §1.2 per-task work: each
    // .head() is a full job re-executing the codebook plan; merged they
    // halve the orchestration constant of every PQ entry). cw lengths
    // are uniform by construction, so max(size) == the dsub of any row.
    val md = codebooks.agg(max("sub"), max(size(col("cw")))).head()
    val m = md.getInt(0) + 1
    val dsub = md.getInt(1)
    val bc = broadcast(codebooks)
    subVectors(data, m, dsub).join(bc, Seq("sub"))
      .withColumn("__score",
        lit(2.0) * nativeDot(sp, col("sv"), col("cw")) - col("cw_sq"))
      .groupBy("vec_id", "sub")
      .agg(max_by(struct(col("code_id"), col("cw_sq")),
        struct(col("__score"), -col("code_id"))).as("__b"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("__b")))).as("sc"))
      .select(col("vec_id"),
        transform(col("sc"), e => e.getField("__b").getField("code_id")).as("pq_code"),
        sqrt(aggregate(
          transform(col("sc"), e => e.getField("__b").getField("cw_sq")),
          lit(0.0), (a, x) => a + x)).as("pq_norm"))
  }

  /** The PQ index: home IVF cell + PQ code per vector —
    * `(vec_id, cluster, pq_code, pq_norm)`, the [[buildPqCodes]] shape
    * with m-byte codes instead of dim int8s. */
  def pqBuildIndex(data: DataFrame, centroids: DataFrame,
                   codebooks: DataFrame): DataFrame = {
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    assignTopN(sp, cents, dataN, "embedding", "__dn", "cluster", 1)
      .select("vec_id", "cluster").join(pqEncode(data, codebooks), "vec_id")
  }

  /** IVF + true-PQ serving (the FAISS IVFPQ probe shape): probe the
    * query's `nProbe` nearest cells, rank every candidate by ADC —
    * asymmetric distance via the query's precomputed M×ksub lookup
    * table of subspace partial dot products, summed per candidate by
    * the codegen'd [[graft.functions.PqAdc]] kernel (the hottest loop
    * of the scan reads m ints + m table lookups per candidate, no float
    * vectors) — then fetch float vectors for the top `refine` shortlist
    * only and re-rank exactly to top `k`. The ADC cosine divides by the
    * encode-time reconstruction norm, so ranking equals cosine against
    * the reconstructed vector with no per-candidate norm computation.
    *
    * Distributed shape: codebooks and per-query LUTs broadcast (LUT
    * volume = #queries × m×ksub doubles); one shuffle co-locates probes
    * with cells; the float re-rank join is shortlist-sized. */
  def ivfPqAdcTopKWith(data: DataFrame, queries: DataFrame, k: Int,
                       centroids: DataFrame, codebooks: DataFrame,
                       codes: DataFrame, nProbe: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine must be >= k: refine=$refine, k=$k")
    val sp = data.sparkSession
    graft.functions.GraftFunctions.register(sp)
    // merged scalar probe (one job, not two — the pqEncode rationale)
    val kd = codebooks.agg(max("code_id"), max(size(col("cw")))).head()
    val ksub = kd.getInt(0) + 1
    val dsub = kd.getInt(1)
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val queriesN = queries.withColumn("__qn", nativeNorm(sp, col("q_vec")))
    val lut = adcLut(sp, queriesN, codebooks, dsub)
    val probed = assignTopN(sp, cents, queriesN, "q_vec", "__qn", "cluster", nProbe)
    floatReRank(sp, adcShortlist(probed, codes, lut, ksub, lit(0.0), refine),
      data, queriesN, k)
  }

  /** The ADC probe-scan shortlist shared by the plain and residual
    * serving paths — they differ ONLY in `numeratorExtra` (0 for plain;
    * the per-probe dot(q, c_cell) term for residual). Zero-reconstruction
    * (or zero-norm-query) candidates rank LAST, not first: the bare
    * division yields NaN, which Spark's descending sort orders ABOVE
    * every real similarity — a handful of degenerate vectors would
    * otherwise flood every query's shortlist (review-caught; the r7
    * int8 path dodged this because int8 codes of a nonzero vector can't
    * all round to zero, but a PQ reconstruction can). */
  private def adcShortlist(probed: DataFrame, codes: DataFrame, lut: DataFrame,
                           ksub: Int, numeratorExtra: Column,
                           refine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wa = Window.partitionBy("q_id").orderBy(col("__asim").desc, col("vec_id"))
    probed.join(codes, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(lut), "q_id")
      .withColumn("__asim",
        when(col("pq_norm") > 0 && col("__qn") > 0,
          (numeratorExtra + call_function(graft.functions.PqAdc.Name,
            col("pq_code"), col("__lut"), lit(ksub))) /
            (col("__qn") * col("pq_norm")))
          .otherwise(lit(Double.NegativeInfinity)))
      .withColumn("__ark", row_number().over(wa))
      .filter(col("__ark") <= refine)
      .select("q_id", "vec_id")
  }

  /** Residuals x − c(home cell): `(vec_id, cluster, residual)` — what
    * residual-PQ codebooks train on and encode. Residuals concentrate
    * near zero with far smaller spread than raw vectors, so the same
    * ksub codewords quantize much finer (the FAISS IVFPQ default uses
    * residual encoding for exactly this reason). */
  def pqResiduals(data: DataFrame, centroids: DataFrame): DataFrame = {
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    assignTopN(sp, cents, dataN, "embedding", "__dn", "cluster", 1)
      .join(broadcast(centroids.select(col("c_id").as("cluster"), col("c_vec"))), "cluster")
      .select(col("vec_id"), col("cluster"),
        zip_with(col("embedding"), col("c_vec"),
          (x, c) => (x - c).cast("float")).as("residual"))
  }

  /** [[pqCodebooks]] trained on RESIDUALS (x − home cell) instead of
    * raw vectors — the codebook half of residual IVF-PQ. Same pinning
    * discipline: `iters = 0` seeds from the first `ksub` vectors'
    * residual subvectors. */
  def pqCodebooksResidual(data: DataFrame, centroids: DataFrame,
                          m: Int, ksub: Int, iters: Int): DataFrame =
    pqCodebooks(pqResiduals(data, centroids)
      .select(col("vec_id"), col("residual").as("embedding")), m, ksub, iters)

  /** The residual-PQ index: home cell + m residual codes + the FULL
    * reconstruction norm ‖c + recon‖ per vector, precomputed at encode
    * time from the (cell, sub, code) cross table of centroid-subvector ×
    * codeword dots (nCentroids·m·ksub rows, broadcast) — serving then
    * needs no per-candidate norm work, exactly like [[pqBuildIndex]].
    * The per-vector norm folds its m terms in sub order (the
    * [[pqEncode]] determinism discipline); ‖c+recon‖² is clamped at 0
    * before the sqrt (float cancellation near c ≈ −recon). */
  def pqBuildIndexResidual(data: DataFrame, centroids: DataFrame,
                           codebooks: DataFrame,
                           residuals: Option[DataFrame] = None): DataFrame = {
    val sp = data.sparkSession
    // merged scalar probe (one job, not two — the pqEncode rationale)
    val md = codebooks.agg(max("sub"), max(size(col("cw")))).head()
    val m = md.getInt(0) + 1
    val dsub = md.getInt(1)
    val bc = broadcast(codebooks)
    val cross = broadcast(centroids
      .select(col("c_id").as("cluster"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("c_vec"))
      .withColumn("csv", slice(col("c_vec"), col("sub") * dsub + 1, lit(dsub)))
      .join(bc, Seq("sub"))
      .select(col("cluster"), col("sub"), col("code_id"),
        nativeDot(sp, col("csv"), col("cw")).as("ccw")))
    val cSq = broadcast(centroids.select(col("c_id").as("cluster"),
      nativeDot(sp, col("c_vec"), col("c_vec")).as("c_sq")))
    // callers that also trained codebooks on the residuals pass the
    // shared (usually cached) frame so the corpus-to-centroid
    // assignment runs once, not once per half
    val res = residuals.getOrElse(pqResiduals(data, centroids))
    val subs = res
      .select(col("vec_id"), col("cluster"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("residual"))
      .withColumn("sv", slice(col("residual"), col("sub") * dsub + 1, lit(dsub)))
      .select("vec_id", "cluster", "sub", "sv")
    subs.join(bc, Seq("sub"))
      .withColumn("__score",
        lit(2.0) * nativeDot(sp, col("sv"), col("cw")) - col("cw_sq"))
      .groupBy("vec_id", "cluster", "sub")
      .agg(max_by(struct(col("code_id"), col("cw_sq")),
        struct(col("__score"), -col("code_id"))).as("__b"))
      .select(col("vec_id"), col("cluster"), col("sub"),
        col("__b").getField("code_id").as("code_id"),
        col("__b").getField("cw_sq").as("cw_sq"))
      .join(cross, Seq("cluster", "sub", "code_id"))
      .groupBy("vec_id", "cluster")
      .agg(array_sort(collect_list(struct(col("sub"), col("code_id"),
        col("ccw"), col("cw_sq")))).as("sc"))
      .join(cSq, "cluster")
      .select(col("vec_id"), col("cluster"),
        transform(col("sc"), e => e.getField("code_id")).as("pq_code"),
        sqrt(greatest(lit(0.0), col("c_sq") + aggregate(col("sc"), lit(0.0),
          (a, e) => a + lit(2.0) * e.getField("ccw") + e.getField("cw_sq"))))
          .as("pq_norm"))
  }

  /** Residual-PQ serving: identical to [[ivfPqAdcTopKWith]] except the
    * ADC numerator gains the centroid term —
    * `dot(q, c + recon) = dot(q, c_cell) + ADC(residual LUT)` — with
    * `dot(q, c_cell)` already per-probe-pair work (nProbe rows per
    * query), and the denominator uses the stored full reconstruction
    * norm. Same zero-norm guard, shortlist and float re-rank. */
  def ivfPqResidualTopKWith(data: DataFrame, queries: DataFrame, k: Int,
                            centroids: DataFrame, codebooks: DataFrame,
                            codes: DataFrame, nProbe: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine must be >= k: refine=$refine, k=$k")
    val sp = data.sparkSession
    graft.functions.GraftFunctions.register(sp)
    // merged scalar probe (one job, not two — the pqEncode rationale)
    val kd = codebooks.agg(max("code_id"), max(size(col("cw")))).head()
    val ksub = kd.getInt(0) + 1
    val dsub = kd.getInt(1)
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val queriesN = queries.withColumn("__qn", nativeNorm(sp, col("q_vec")))
    val lut = adcLut(sp, queriesN, codebooks, dsub)
    val probed = assignTopN(sp, cents, queriesN, "q_vec", "__qn", "cluster", nProbe)
      .join(broadcast(centroids.select(col("c_id").as("cluster"), col("c_vec"))), "cluster")
      .withColumn("__qc", nativeDot(sp, col("q_vec"), col("c_vec")))
      .drop("c_vec")
    floatReRank(sp, adcShortlist(probed, codes, lut, ksub, col("__qc"), refine),
      data, queriesN, k)
  }

  /** The per-query M×ksub ADC lookup table, flattened row-major by
    * (sub, code) — shared by the plain and residual PQ serving paths. */
  private def adcLut(sp: SparkSession, queriesN: DataFrame,
                     codebooks: DataFrame, dsub: Int): DataFrame =
    queriesN.select(col("q_id"), col("q_vec"))
      .crossJoin(broadcast(codebooks))
      .withColumn("__p", nativeDot(sp,
        slice(col("q_vec"), col("sub") * dsub + 1, lit(dsub)), col("cw")))
      .groupBy("q_id")
      .agg(array_sort(collect_list(
        struct(col("sub"), col("code_id"), col("__p")))).as("__e"))
      .select(col("q_id"),
        transform(col("__e"), x => x.getField("__p")).as("__lut"))

  /** Exact float re-rank of a (q_id, vec_id) shortlist to top `k` —
    * the tail shared by every quantized serving path. */
  private def floatReRank(sp: SparkSession, shortlist: DataFrame,
                          data: DataFrame, queriesN: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(queriesN.select(col("q_id"), col("q_vec"), col("__qn")), "q_id")
      .join(dataN, "vec_id")
      .withColumn("sim",
        nativeDot(sp, col("q_vec"), col("embedding")) / (col("__qn") * col("__dn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }

  /** Key=value meta-file read shared by the index-lifecycle paths
    * (empty map when the file is absent). */
  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
                       path: String, name: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
    finally in.close()
  }

  /** Require every PRESENT meta among `names` to carry the SAME stamped
    * version before an append restamps them all to a new one. Divergent
    * halves mean some other lifecycle path re-versioned one half alone
    * (e.g. the int8 codes via [[trainOrLoadPqIndex]] while `_pq_meta`
    * stayed at the old version) — an append would then encode the batch
    * against the NEW centroids, append it onto historical codes assigned
    * under the OLD ones, and promote that mixed index wholesale: loaders
    * would serve silently wrong ANN results, exactly the desync the
    * version stamps exist to prevent. Refuse loudly → rebuild under a
    * fresh version. */
  private def requireConsistentMetaVersions(
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      names: Seq[String], caller: String): Unit = {
    val present = names.flatMap { n =>
      val m = readMeta(fs, path, n)
      m.get("version").map(n -> _)
    }
    if (present.map(_._2).distinct.size > 1)
      throw new IllegalStateException(
        s"$caller: index halves at $path carry divergent versions " +
          s"(${present.map { case (n, v) => s"$n=$v" }.mkString(", ")}) — " +
          "appending would mix codes encoded under different centroid " +
          "generations; rebuild the index under a fresh version")
  }

  /** Atomic-enough meta stamp (tiny single file, full overwrite). */
  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem, path: String,
                        name: String, entries: (String, String)*): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path, name), true)
    try out.write(entries.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Rewrite a meta read before an append under the new `version`,
    * keeping its other entries (the recorded table schemas). */
  private def restamp(fs: org.apache.hadoop.fs.FileSystem, path: String, name: String,
                      prior: Map[String, String], version: String,
                      entries: (String, String)*): Unit =
    writeMeta(fs, path, name, (prior ++ (("version" -> version) +: entries)).toSeq: _*)

  /** The meta entry recording `df`'s schema as the schema of index table
    * `table`, read back by [[readIndexTable]]. */
  private def schemaEntry(table: String, df: DataFrame): (String, String) =
    s"schema.$table" -> df.schema.json

  /** An index table `<path>/<table>` under the schema its meta recorded
    * when it was written: no schema-inference job per open. A meta
    * written before tables carried that record infers the stored schema
    * instead. */
  private def readIndexTable(spark: SparkSession, path: String, table: String,
                             meta: Map[String, String]): DataFrame =
    meta.get(s"schema.$table").fold(spark.read)(json => spark.read.schema(
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))
      .parquet(s"$path/$table")

  /** Persist a trained true-PQ index half beside the centroid index:
    * `<path>/pq_codebooks` + `<path>/pq_codes` + `_pq_meta`, the
    * [[saveIvfPqCodes]] crash discipline (meta invalidated FIRST,
    * restamped LAST — a crash mid-write leaves a meta-less dir loaders
    * refuse). Codebooks and codes travel together: codes are
    * meaningless under different codebooks, so one meta stamps both. */
  def saveAdcIndex(codebooks: DataFrame, codes: DataFrame,
                   path: String, version: String,
                   kind: String = "raw"): Unit = {
    import org.apache.spark.sql.SaveMode
    require(kind == "raw" || kind == "residual", s"unknown PQ kind: $kind")
    val sp = codebooks.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), sp.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_pq_meta"), false)
    val cbs = codebooks.select(col("sub"), col("code_id"), col("cw"), col("cw_sq"))
    cbs.write.mode(SaveMode.Overwrite).parquet(s"$path/pq_codebooks")
    val out = codes.select(col("vec_id"), col("cluster"), col("pq_code"), col("pq_norm"))
    out.write.mode(SaveMode.Overwrite).parquet(s"$path/pq_codes")
    // the meta records WHICH encoder produced the codes: appending
    // residually-encoded codes to a raw-codebook base (or vice versa)
    // would serve silently wrong ADC ranks — the encode variant is part
    // of the index identity, not a serving-time choice
    writeMeta(fs, path, "_pq_meta", "version" -> version, "kind" -> kind,
      schemaEntry("pq_codebooks", cbs), schemaEntry("pq_codes", out))
  }

  /** Load a persisted true-PQ half if present AND built for this
    * `version`; None (→ caller rebuilds) otherwise. `expectKind`, when
    * given, ENFORCES the encode variant: a version match under the
    * wrong kind throws loudly — serving raw codes through the residual
    * path (or vice versa) skews every ADC rank with no error, the
    * hazard the kind stamp exists for (review-caught: the stamp was
    * written but never read back). */
  def loadAdcIndex(spark: SparkSession, path: String, version: String,
                   expectKind: Option[String] = None): Option[(DataFrame, DataFrame)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val meta = readMeta(fs, path, "_pq_meta")
    if (meta.isEmpty) return None
    val kind = meta.getOrElse("kind", "raw")
    if (!meta.get("version").contains(version)) None
    else {
      expectKind.filter(_ != kind).foreach { want =>
        throw new IllegalStateException(
          s"PQ index at $path (version $version) was encoded kind=$kind " +
            s"but the caller expects kind=$want — the encode variant is " +
            "part of the index identity; rebuild under a new version")
      }
      Some((readIndexTable(spark, path, "pq_codebooks", meta),
        readIndexTable(spark, path, "pq_codes", meta)))
    }
  }

  /** Incrementally append a NEW embedding batch to a persisted true-PQ
    * index — [[appendPqCodes]] for the ADC path: encode ONLY the batch
    * against the EXISTING centroids and codebooks (no retraining, no
    * re-encoding of history), append its codes, restamp ALL THREE metas
    * (centroids, int8 codes if present are untouched, `_pq_meta`)
    * together under the new `version`. Meta invalidated FIRST and
    * restamped LAST — the appendPqCodes crash discipline: a crash
    * mid-append leaves a refused index (→ rebuild), never a silently
    * partial batch, and the centroid half must carry the same version
    * or a later load would retrain centroids while accepting codes
    * assigned under the old ones. */
  def appendAdcCodes(batch: DataFrame, path: String, version: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val sp = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), sp.sparkContext.hadoopConfiguration)
    for ((m, what) <- Seq("_meta" -> "centroid index", "_pq_meta" -> "PQ base"))
      if (!fs.exists(new org.apache.hadoop.fs.Path(path, m)))
        throw new IllegalStateException(
          s"appendAdcCodes: no $m at $path ($what missing or torn) — " +
            "build with trainOrLoadAdcIndex first")
    // the encode variant comes from the index, never the caller — a
    // mismatched encoder would append silently wrong codes
    val metas = Seq("_meta", "_pq_meta", "_codes_meta")
      .map(m => m -> readMeta(fs, path, m)).toMap
    val kind = metas("_pq_meta").getOrElse("kind", "raw")
    // a SHARED index directory may also hold the int8 half
    // (_codes_meta): every present half must extend together under the
    // new version, or a consumer at the stale half's version would
    // retrain the shared centroids while accepting codes assigned under
    // the old ones — the appendPqCodes desync, review-caught here in
    // the cross-half direction
    val hasInt8 = fs.exists(new org.apache.hadoop.fs.Path(path, "_codes_meta"))
    requireConsistentMetaVersions(fs, path,
      Seq("_meta", "_pq_meta", "_codes_meta"), "appendAdcCodes")
    val cents = readIndexTable(sp, path, "centroids", metas("_meta"))
    val cbs = readIndexTable(sp, path, "pq_codebooks", metas("_pq_meta"))
    (Seq("_pq_meta", "_meta") ++ (if (hasInt8) Seq("_codes_meta") else Nil))
      .foreach(m => fs.delete(new org.apache.hadoop.fs.Path(path, m), false))
    val enc =
      if (kind == "residual") pqBuildIndexResidual(batch, cents, cbs)
      else pqBuildIndex(batch, cents, cbs)
    enc.write.mode(SaveMode.Append).parquet(s"$path/pq_codes")
    if (hasInt8)
      buildPqCodes(batch, cents).write.mode(SaveMode.Append).parquet(s"$path/codes")
    restamp(fs, path, "_meta", metas("_meta"), version)
    if (hasInt8) restamp(fs, path, "_codes_meta", metas("_codes_meta"), version)
    restamp(fs, path, "_pq_meta", metas("_pq_meta"), version, "kind" -> kind)
  }

  /** The full true-PQ index lifecycle: centroids via
    * [[trainOrLoadIvfIndex]] (shared with the plain-IVF and int8 paths —
    * one centroid training per corpus version serves all three),
    * codebooks + codes loaded from disk or trained/encoded once and
    * persisted. Returns (centroids, codebooks, codes) ready for
    * [[ivfPqAdcTopKWith]]. */
  def trainOrLoadAdcIndex(data: DataFrame, path: String, version: String,
                          nCentroids: Int, iters: Int,
                          m: Int, ksub: Int, pqIters: Int,
                          residual: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val kind = if (residual) "residual" else "raw"
    val cents = trainOrLoadIvfIndex(data, path, version, nCentroids, iters)
    val (cbs, codes) = loadAdcIndex(data.sparkSession, path, version,
      expectKind = Some(kind)).getOrElse {
      if (residual) {
        // ONE corpus-to-centroid assignment feeds both halves: the
        // residual frame is scope-cached across codebook training and
        // index encoding (review-caught: two assignTopN cross joins over
        // the whole corpus where one suffices — the most expensive build
        // stage doubled)
        val res = pqResiduals(data, cents)
        val owned = Caching.cacheIfNeeded(res)
        try {
          val cb = pqCodebooks(
            res.select(col("vec_id"), col("residual").as("embedding")),
            m, ksub, pqIters)
          saveAdcIndex(cb, pqBuildIndexResidual(data, cents, cb, Some(res)),
            path, version, kind = kind)
        } finally if (owned) res.unpersist(blocking = false)
      } else {
        val cb = pqCodebooks(data, m, ksub, pqIters)
        saveAdcIndex(cb, pqBuildIndex(data, cents, cb), path, version, kind = kind)
      }
      // serve from the persisted copy so every caller reads one plan shape
      loadAdcIndex(data.sparkSession, path, version).get
    }
    (cents, cbs, codes)
  }

  /** [[ivfPqTopKWith]] against a PRE-BUILT codes table (persisted via
    * [[saveIvfPqCodes]] or inline via [[buildPqCodes]]) — the production
    * shape: the probe scan reads int8 codes straight off the index, no
    * per-query-batch quantization pass; `data` supplies float vectors
    * only for the shortlist re-rank. */
  def ivfPqTopKWithCodes(data: DataFrame, queries: DataFrame, k: Int,
                         centroids: DataFrame, codes: DataFrame,
                         nProbe: Int, refine: Int): DataFrame = {
    require(refine >= k, s"refine must be >= k: refine=$refine, k=$k")
    import org.apache.spark.sql.expressions.Window
    val sp = data.sparkSession
    val cents = broadcast(centroids.withColumn("__cn", nativeNorm(sp, col("c_vec"))))
    val dataN = data.select(col("vec_id"), col("embedding"))
      .withColumn("__dn", nativeNorm(sp, col("embedding")))
    // probe-scan view of the codes: float-cast for the codegen'd kernels
    // (int8 values are float-exact)
    val index = codes.select(col("vec_id"), col("cluster"),
      col("qvec").cast("array<float>").as("__code"), col("qnorm").as("__an"))
    val queriesN = queries.withColumn("__qn", nativeNorm(sp, col("q_vec")))
    val probed = assignTopN(sp, cents, queriesN, "q_vec", "__qn", "cluster", nProbe)
    // quantized scan: approx cosine over codes, keep top `refine`
    val wa = Window.partitionBy("q_id").orderBy(col("__asim").desc, col("vec_id"))
    val shortlist = probed.join(index, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("__asim",
        nativeDot(sp, col("q_vec"), col("__code")) / (col("__qn") * col("__an")))
      .withColumn("__ark", row_number().over(wa))
      .filter(col("__ark") <= refine)
      .select("q_id", "vec_id")
    // exact float re-rank of the shortlist only
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    shortlist
      .join(queriesN.select(col("q_id"), col("q_vec"), col("__qn")), "q_id")
      .join(dataN, "vec_id")
      .withColumn("sim", nativeDot(sp, col("q_vec"), col("embedding")) / (col("__qn") * col("__dn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim"),
        col("rank").cast("long").as("rank"))
      .orderBy("q_id", "rank")
  }
}
