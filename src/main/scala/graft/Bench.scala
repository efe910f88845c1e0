package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times the headline queries at
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Notes:
  *  - `noop` sink forces full materialization of every operator in the
  *    plan (a `count()` would let Catalyst prune aggregates away).
  *  - One untimed warm-up query absorbs JVM/codegen/classloading cost so
  *    the numbers measure the engine, not first-query startup.
  *  - The brute-force O(n²) baselines (dedup_ngram_jaccard,
  *    dedup_embedding, sim_knn_graph — the exact ≤10⁵-vector k-NN graph
  *    whose scale path sim_knn_graph_ivf IS benched) are deliberately NOT
  *    headline queries: their whole point is to oracle-check the
  *    LSH/banded/IVF scale paths, which ARE benched. The same policy excludes the oracle-parity twins
  *    (dedup_simhash_md5 — the identical pipeline under a slower
  *    oracle-computable hash). The multimodal `_exact` twins stay: they
  *    are the only entries exercising the REAL codec paths.
  *    tsdb_ingest_stream is also excluded: it re-ingests the events table
  *    per run, and ingest throughput is already measured by the dedicated
  *    tsdb_ingest benchmark below (fresh table, reference CI-bench shape).
  *    multimodal_frames_gif / _avi / multimodal_audio_adpcm stage their
  *    synthesized containers once per corpus fingerprint (r10,
  *    SparkEntry.stagedBlobs — the trainOrLoadAdcIndex shape applied to
  *    fixtures): the first touch per corpus version writes the blobs,
  *    every timed round cold-reads them, so the benched numbers measure
  *    DECODE. That retires the r9 exclusion of multimodal_frames_gif
  *    (whose inline GIF encode of 15k fixtures dominated at 7.4 s) —
  *    the one decoder serving real crawl payloads as-is is now benched.
  *    Entries that re-run the identical LSH+closure plan dedup_clusters
  *    already times (dedup_keep, dedup_keep_best, dedup_report,
  *    corpus_split_safe), and text_ppl_buckets_lang (the lm_score +
  *    threshold plan text_ppl_buckets times, plus one broadcast join),
  *    are excluded for the same no-duplicate-measurement reason;
  *    dedup_incremental IS benched — its cross-dataset band join is a
  *    distinct plan shape. corpus_dedup_stream follows the
  *    tsdb_ingest_stream rule: it re-stages the corpus and rebuilds the
  *    index per run, and its real compute (indexed incremental dedup) is
  *    already timed by dedup_incremental_indexed — correctness-gated,
  *    not headline. The r6 staged maintenance entries (tsdb_delete,
  *    tsdb_retention, tsdb_compact, tsdb_csv_roundtrip) follow the same
  *    rule: each re-appends the events corpus per run, so their headline
  *    number would measure staging, not the maintenance path under test
  *    (measured at 6-17 s/run, >70% of it the append tsdb_ingest already
  *    times) — correctness-gated only. The r7 tsdb_delete_mor and the r8
  *    tsdb_time_travel / tsdb_changes staged entries follow the same
  *    rule (snapshot and CDC reads are manifest-filter variants of the
  *    raw scan tsdb_raw already times; their staging dominates), as does
  *    the r9 tsdb_asof_rollup (its serving plan is the rollup scan
  *    tsdb_storage_agg already times plus a pruned raw rebuild), and the
  *    r10 tsdb_cdc_replica / tsdb_cdc_views (each re-ingests and
  *    re-mutates a fresh table per run; the maintainer's fold costs are
  *    measured by the since-retired tools/CdcViewScale; receipts in
  *    SCALE.md).
  *    corpus_warc IS benched: its segments stage once per corpus
  *    fingerprint (stagedWarcDir), so the timed body is the streaming
  *    record parse + HTTP extraction — the ingest-scan shape itself.
  *  - Every individual run's time is emitted under `"runs"` so a run
  *    poisoned by this VM's external freeze windows is visible in the
  *    artifact itself; `"queries"` carries the per-query min.
  *  - `"calib"` (r9) is a fixed code-independent VM-speed probe (one
  *    Spark sum over a constant range, min-of-3): it moves with the
  *    sandbox's documented drift windows and NOT with this repo's code,
  *    so cross-round comparisons can separate drift (query ratio tracks
  *    the calib ratio) from regression (query ratio exceeds it). Not
  *    part of `total`.
  */
object Bench {

  val Headline: Seq[String] = Seq(
    "q1_agg", "q3_topk_join", "q_window_rank",
    "tsdb_raw", "tsdb_client_agg", "tsdb_server_agg", "tsdb_rate",
    "tsdb_groupby_label", "tsdb_cross_agg", "tsdb_sliding_window",
    "tsdb_overlap_windows", "tsdb_downsample", "tsdb_variant_last",
    "tsdb_sql", "tsdb_multi_agg", "tsdb_storage_agg", "tsdb_sliding_server",
    "tsdb_storage_preagg",
    // r12: the DSv2 batch source — a genuinely new scan implementation
    // (own parquet reader + pushdown), over the once-staged storedTable;
    // tsdb_dsv2_mor and tsdb_cdc_topk stay correctness-gated (each
    // re-stages and re-mutates a fresh table per run, the
    // tsdb_delete/tsdb_cdc_views exclusion rule)
    "tsdb_dsv2_read",
    "tsdb_dsv2_agg",
    // r14: SUM/AVG pushdown — per-partition partials decoded inside
    // the scan (no row pipeline above it), over the same storedTable
    "tsdb_dsv2_sum",
    // r15: label-predicate scan through the series registry (pruned
    // stripes/row groups + hash-set row test), same storedTable
    "tsdb_dsv2_label",
    "tsdb_frame_pivot", "tsdb_frame_mixed", "tsdb_seriesset", "tsdb_seriesset_prom",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "dedup_incremental", "dedup_incremental_indexed",
    "sim_topk", "sim_ann_ivf", "sim_ann_ivfpq", "sim_ann_pq",
    "sim_ann_pq_served", "sim_quantize",
    "dedup_embedding_srp",
    "sim_knn_graph_ivf", "sim_embed_stats", "sim_decontaminate",
    "sim_cluster_sample",
    "events_sessionize",
    "text_tokens", "text_tokens_bpe", "text_bpe_train", "text_quality", "text_langid",
    "text_langid_model", "text_quality_model",
    "text_tfidf", "text_redact", "text_normalize", "text_gopher_rules",
    "text_entropy", "text_strip_html",
    "text_repetition", "text_decontaminate", "text_decontaminate_fuzzy",
    "text_bm25", "text_lm_score", "text_ppl_buckets", "text_dup_spans",
    "text_dup_spans_drop", "corpus_dsir",
    "doc_fingerprint",
    "text_url_domains", "text_url_filter", "corpus_domain_cap",
    "corpus_sample", "corpus_split", "corpus_shuffle", "corpus_mix",
    "corpus_doremi", "corpus_interleave",
    "corpus_epochs", "corpus_jsonl", "corpus_warc", "corpus_warc_text",
    "corpus_crawl_pipeline", "corpus_pdf_text", "multimodal_probe_pdf",
    "corpus_pdf_pipeline", "corpus_pdf_cid", "corpus_pdf_encrypted",
    "corpus_diff",
    "corpus_stats", "corpus_cube", "corpus_quality_gate",
    "text_dedup_lines", "text_main_content",
    "sim_semdedup",
    "corpus_pack", "corpus_topk", "corpus_curate", "corpus_pipeline",
    "corpus_curate_stream", "corpus_chunk", "corpus_chunk_pack", "text_vocab",
    "multimodal_meta", "multimodal_features", "multimodal_audio",
    "multimodal_features_exact", "multimodal_audio_exact",
    "multimodal_audio_adpcm", "multimodal_audio_flac",
    "multimodal_audio_containers", "multimodal_probe", "multimodal_triage",
    "multimodal_probe_images", "multimodal_triage_images",
    "multimodal_probe_archives",
    "dedup_image_dhash", "dedup_image_keep", "multimodal_frames",
    "multimodal_frames_avi", "multimodal_frames_gif",
    "dedup_video_frames", "dedup_video_dhash")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.SparkTuning.freezeTolerant(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      // ops with multi-consumer internals return a persisted handle
      // (Caching.scoped), and several entries wrap it in a projection —
      // df.unpersist() on the wrapper would be a no-op and round 2 would
      // "time" a cache read of round 1's result. clearCache drops every
      // cached plan (nothing outside the ops caches across queries; the
      // tsdb table and IVF index are on DISK, unaffected), and the
      // finally still clears when a run throws
      finally spark.sharedState.cacheManager.clearCache()

    run("q1_agg") // warm-up, untimed
    // storage-table INGEST and IVF index TRAINING are their own operations
    // (appender path / index build), not part of the queries being timed —
    // build the memoized table and centroids before the timed rounds so
    // round 1 measures the serving path, not one-off construction
    run("tsdb_storage_agg")
    run("sim_ann_ivf")
    // first sim_ann_pq_served call per corpus version BUILDS + persists
    // the pinned ADC index — untimed, so its timed rounds measure the
    // cold-load serving path (probe + LUT + re-rank) the entry exists
    // to report
    run("sim_ann_pq_served")

    // Three timed rounds, keep the per-query MIN: this environment shows
    // occasional external ~90-200s whole-VM stalls (all threads parked, no
    // GC, no CPU) that would otherwise land on one arbitrary query's
    // number; with two rounds a single unlucky pair still poisons a query.
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try run(name)
      catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    // Ingest benchmark mirroring the reference's CI bench shape
    // (test/benchmark/testdata/tsdb-bench-test-config-ci.yaml: 10 names ×5
    // diversity, one label ×3, 30s step, 96h span → 150 series × 11520
    // samples ≈ 1.7M): one timed append into a fresh TsdbTable (raw +
    // rollup + names). Each run appends into a FRESH table, so taking the
    // min across runs is fair (no warm-table advantage).
    def ingestOnce(): Double = {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft_ingest_bench")
      val t = new graft.storage.TsdbTable(spark, dir.toString,
        graft.storage.TsdbConfig(rollupIntervalMs = 3600000L))
      val base = 1704067200000L
      val nSeries = 150L
      // INTEGER division throughout (Spark's `/` on columns is double
      // division — it would smear the 150 series into 1.7M unique
      // fractional-suffix names and double-typed 200ms timestamps)
      def idiv(c: org.apache.spark.sql.Column, d: Long) =
        floor(c / d).cast("long")
      val samples = spark.range(nSeries * 11520L).select(
        concat(lit("Name_"), (col("id") % 10).cast("string"),
          lit("_"), (idiv(col("id"), 10) % 5).cast("string")).as("name"),
        map(lit("Label_A"),
          concat(lit("A_"), (idiv(col("id"), 50) % 3).cast("string"))).as("labels"),
        (lit(base) + idiv(col("id"), nSeries) * 30000L).as("time"),
        (col("id") % 997).cast("double").as("value"))
      val t0 = System.nanoTime()
      try {
        // incrementalRollup: the ingest-path rollup maintenance the
        // reference performs (A1 `_v_*` update expressions) — partials
        // from the batch merged into the touched partitions, no raw
        // rescan. The non-incremental recompute is the repair path.
        t.append(samples, incrementalRollup = true)
        (System.nanoTime() - t0) / 1e9
      } finally {
        // the ~1.7M-row throwaway tables must not pile up in /tmp
        graft.core.Fs.rmTree(dir.toFile)
      }
    }
    // per-run failure handling: keep whichever runs succeeded; omit the
    // entry entirely when none did (a -1 sentinel would poison `total`).
    // THREE runs: warm intrinsic cost is ~2.1-2.6 s (solo min-of-3, runs
    // published in the "runs" array; a fresh JVM's first run pays ~7 s of
    // one-time codegen/classload warm-up), while this VM's external
    // freeze windows (90-200 s, all threads parked) hit single runs often
    // enough that every adjudication to date has seen at least one
    // poisoned draw — a third attempt makes an unpoisoned minimum likely,
    // and the per-run array lets a reader tell poison from regression
    // SPARK_GRAFT_ONLY (comma-separated names): isolated re-measurement of
    // a suspect subset — local adjudication only, the driver never sets it.
    // An empty value is no-filter; an unknown name fails loudly (a typo'd
    // subset would otherwise emit a plausible-looking empty artifact)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val known = Headline.toSet + "tsdb_ingest"
      val bad = names -- known
      require(bad.isEmpty,
        s"SPARK_GRAFT_ONLY names not in Headline: ${bad.toSeq.sorted.mkString(", ")}")
    }
    val benchIngest = only.forall(_("tsdb_ingest"))
    val ingestRuns =
      if (!benchIngest) Seq.empty[Double]
      else {
        // untimed warm-up append: the appender's codegen/classload is
        // one-per-JVM, not part of ingest throughput
        try ingestOnce()
        catch { case e: Throwable => System.err.println(s"[bench] warmup tsdb_ingest: $e") }
        (1 to 3).flatMap { _ =>
          try Some(ingestOnce())
          catch { case e: Throwable => System.err.println(s"[bench] tsdb_ingest: $e"); None }
        }
      }
    // VM-speed CALIBRATION (r9): a fixed, code-independent probe — one
    // Spark aggregate over a constant range — timed with the same
    // min-of-3 discipline. The sandbox's VM windows have drifted up to
    // ~10% between (and within) rounds on identical code, which poisons
    // cross-round per-query comparisons; `calib` moves with the VM and
    // NOT with this repo's code, so an artifact reader can normalize:
    // a query ratio tracking the calib ratio is drift, one exceeding it
    // is a real regression. Kept out of `queries`/`total` (it is not an
    // engine cost).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // untimed warm-up
    val calibRuns = Seq.fill(3)(calibOnce())
    val names = Headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_(n)))
    // One full UNTIMED round first: each query's first execution pays
    // one-off codegen/classload for its own plan shapes (observed as a
    // 13 s first-run spike on tsdb_downsample in r5), which min-of-3
    // neutralizes but still pollutes the per-run arrays — warm every
    // query once so the three timed rounds measure only the engine.
    names.foreach { n =>
      try run(n)
      catch { case e: Throwable => System.err.println(s"[bench] warmup $n: $e") }
    }
    val rounds = Seq.fill(3)(names.map(n => n -> timeOnce(n)).toMap)
    val allRuns: Seq[(String, Seq[Double])] =
      names.map(n => n -> rounds.map(_(n))) ++
        (if (benchIngest) Seq("tsdb_ingest" -> ingestRuns) else Nil)
    val results = allRuns.flatMap { case (n, rs) => rs.minOption.map(n -> _) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = allRuns.map { case (k, rs) =>
      "\"" + k + "\":" + rs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calibJson = s""""calib":{"min":${calibRuns.min},"runs":[${calibRuns.mkString(",")}]}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$calibJson,"queries":$qs,"runs":$runsJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist the artifact to a file: the driver captures only a
    // bounded stdout tail, which truncated (and lost) the r5 JSON line —
    // the on-disk copy can never depend on tail length.
    // per-cpu-count copy too (r16): the driver runs the bench at TWO core
    // counts and each run overwrote BENCH_out.json, losing the first run's
    // per-query map (PERF_r15 had an empty scaling block for exactly this
    // reason) — a name keyed on the core count lets both artifacts survive
    Seq("BENCH_out.json", s"BENCH_out_${cpus}.json").foreach { f =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $f: $e") }
    }
    spark.stop()
    // LAST stdout line, after spark.stop(): a COMPACT summary with no
    // per-query maps. The full line above exceeded the driver's bounded
    // stdout-tail capture two rounds running (r5/r6 "parsed": null); this
    // one always fits, so the driver-side signal stands without the file.
    // `calib` rides along (r10): the driver's tail truncation dropped it
    // from BENCH_r09.json, so drift adjudication needed the local
    // artifact — the compact line now carries the VM-speed probe too.
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib":${calibRuns.min},"sf":"$sfDir","n_queries":${results.size}}""")
  }
}
