package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Samples
import graft.ops.{Codecs, Corpus, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.query.{QueryEngine, SelectParams}
import graft.storage.Rollup

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2 (the
  * Scaladoc of the underlying implementation cites the reference file:line
  * whose semantics it reproduces); [[oracleSql]] holds the DuckDB
  * equivalent the driver hash-compares against.
  *
  * The TSDB entries run over the `events` table mapped to the reference's
  * sample model (name=event_type, labels={user}, t=epoch-ms, v=value) —
  * see [[graft.core.Samples]]. Double outputs are rounded to 6 dp on BOTH
  * sides so float summation order (Spark parallel vs DuckDB serial) cannot
  * flip the driver's hash compare.
  */
object SparkEntry {

  // events span 2024-01-01 .. 2024-01-31 UTC (TESTDATA.md, seed=42)
  private val F = 1704067200000L // 2024-01-01T00:00:00Z
  private val T = 1706659200000L // 2024-01-31T00:00:00Z
  private val Hour = 3600000L
  private val Day = 86400000L

  /** DuckDB view of the sample model — MUST stay in lockstep with
    * [[Samples.fromEvents]]. */
  private val SamplesCte =
    """SELECT event_type AS name,
      |       'user=' || CAST(user_id AS VARCHAR) AS labels_str,
      |       epoch_ns(ts) // 1000000 AS tt, value AS v
      |FROM events""".stripMargin

  private def r6(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 6)))

  /** (lang, train sentence, score sentence, SHORT score phrase) for
    * `text_langid_model` — the score sentence is a word PERMUTATION of
    * the train sentence, so classifying it right requires the character
    * statistics, not string identity; the short phrase (≤ 3 words,
    * r7) is the held-out SHORT-document case the bigram+trigram backoff
    * model must also get right. Indexed by doc_id % 5 in entry and
    * oracle alike. */
  private val LangIdFixture: Seq[(String, String, String, String)] = Seq(
    ("de", "der schnelle braune fuchs springt über den faulen hund schön",
      "über den faulen hund springt der schnelle braune fuchs schön",
      "über den faulen"),
    ("en", "the quick brown fox jumps over the lazy dog with their things",
      "their lazy dog jumps over the quick brown fox with the things",
      "their lazy dog"),
    ("es", "el rápido zorro marrón salta sobre el perro perezoso señor",
      "sobre el perro perezoso salta el rápido zorro marrón señor",
      "el perro perezoso"),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux déjà",
      "par dessus le chien paresseux saute le renard brun rapide déjà",
      "le chien paresseux"),
    ("zh", "这是一个用于测试语言识别模型的中文句子",
      "中文句子用于测试这个语言识别模型",
      "中文句子"))

  /** Recursive delete for the self-staging entries' temp trees (the
    * shared [[graft.core.Fs.rmTree]]). */
  private def rmTree(f: java.io.File): Unit = graft.core.Fs.rmTree(f)

  /** One TsdbTable per (JVM, sfDir) built from the events samples —
    * exercises the real storage path (append → rollup → planner). Its
    * temp dir is deleted at JVM exit. */
  private val tables = scala.collection.concurrent.TrieMap.empty[String, Tsdb]
  private type Tsdb = graft.storage.TsdbTable
  private def storedTable(s: SparkSession, dir: String): Tsdb =
    tables.getOrElseUpdate(dir, {
      val path = java.nio.file.Files.createTempDirectory("graft_tbl").toString
      sys.addShutdownHook(rmTree(new java.io.File(path)))
      val cfg = graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
        preAggregates = Seq(Seq("user")))
      // self-describing: the DSv2 batch source (tsdb_dsv2_read) reads
      // the table's config from .schema, never from the caller
      graft.core.SchemaJson.write(path, cfg)
      val t = new graft.storage.TsdbTable(s, path, cfg)
      t.append(Samples.fromEvents(s, dir).drop("valueStr"))
      t
    })

  /** The curation pipeline shared by `corpus_curate` and
    * `corpus_pipeline`: quality/langid gate ∘ LSH near-dup drop. ONE
    * definition so the two entries can never silently diverge on gate
    * thresholds or dedup parameters; returns the kept
    * (doc_id, pred_lang, quality_score) rows. */
  /** The ONE near-dup clustering pipeline every cluster-consuming entry
    * shares: deferred LSH pairs (k=3, threshold=0.5, production
    * maxBucketSize=1000) → connected components. A single definition so
    * `dedup_clusters`, `dedup_keep`, `dedup_keep_best`, `dedup_report`,
    * `corpus_split_safe` and the curation pipeline can never silently
    * diverge on the dedup parameters — which is also what licenses
    * Bench's "identical plan already timed" headline exclusions.
    * `nearDupClusters` is eager (its union-find labels are a local
    * checkpoint; a pair graph that fits one adaptive partition is
    * clustered in two jobs), so intermediates and the pair cache are
    * released before this returns. */
  private def docClusters(docs: DataFrame): DataFrame = {
    val (pairs, release) = Dedup.minHashLshPairsDeferred(docs, "doc_id",
      "text", k = 3, threshold = 0.5, maxBucketSize = 1000)
    try Dedup.nearDupClusters(pairs)
    finally { release(); pairs.unpersist() }
  }

  /** Spread a small scan across the cluster BEFORE per-row
    * compute-heavy projections (r15, guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"): the
    * fixture tables are single-file single-row-group parquet, so a
    * scan-speed operator (regex stacks, codecs, model feature
    * extraction) otherwise runs its ENTIRE per-row compute on one task
    * — profiled at 1-2 s single-threaded with 31 idle cores on the
    * quality-gate and jusText entries. Hash-repartition on the id
    * (deterministic placement — NOT round-robin, which pays a local
    * sort and reshuffles under retry rules) to the cluster's
    * parallelism, but ONLY when the scan is narrower than that: a
    * production multi-split scan never pays the extra exchange. The
    * partition-count probe inspects the planned RDD of the bare scan —
    * no exchange below it, so nothing executes. */
  private def spreadSmallScan(df: DataFrame, key: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, col(key)) else df
  }

  private def curatedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadSmallScan(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id")
    val gated = docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("__w"),
        TextAnalysis.tokens(lower(col("text"))).as("__wl"))
      .select(col("doc_id"), col("text"), col("__w"),
        TextAnalysis.stopwordCounts(s, col("__wl")).as("__sc"))
      .select(col("doc_id"),
        TextAnalysis.langIdFromCounts(col("text"), col("__sc")).as("pred_lang"),
        TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")).last)
      .filter(col("quality_score") >= 0.4 && col("pred_lang") =!= "unknown")
    Dedup.dropNearDuplicates(gated, "doc_id", docClusters(docs))
  }

  /** Source-file fingerprint of `<dir>/<table>` (part-file names +
    * mtimes + sizes): the corpus-identity half of every on-disk index
    * version string, so a regenerated fixture at the same path
    * invalidates the index. ONE definition — the IVF entries and the
    * dedup index previously each carried a verbatim copy, and a scheme
    * change missed in one would silently desynchronize the shared
    * index. */
  private def sourceFingerprint(dir: String, table: String): String = {
    val src = new java.io.File(s"$dir/$table")
    Option(src.listFiles()).map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + ":" + f.lastModified + ":" + f.length).sorted.mkString(","))
      .getOrElse(s"${src.lastModified}:${src.length}")
  }

  /** The per-fixture on-disk IVF index path shared by `sim_ann_ivf` and
    * `sim_ann_ivfpq` (the path suffix hash disambiguates sanitization
    * collisions). */
  private def ivfIndexPath(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_ivf/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + (dir.hashCode & 0x7fffffff)

  /** Stage a synthesized blob corpus ONCE per corpus fingerprint (r10 —
    * the `trainOrLoadAdcIndex` shape applied to fixtures): the first
    * touch writes `build` to a fingerprint-stamped parquet dir, every
    * later call — including every timed bench round — COLD-READS it.
    * Codec entries then measure DECODE, not fixture encode (the GIF
    * entry's inline ImageIO encode of 15k fixtures dominated its timed
    * body at 7.4 s and kept it out of the headline bench; the AVI
    * entry's benched number conflated per-run JPEG encode with decode).
    * A regenerated corpus at the same path invalidates the stage via
    * [[sourceFingerprint]], same as the ANN indexes. */
  private def stagedBlobs(s: SparkSession, dir: String, kind: String)
                         (build: => DataFrame): DataFrame = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_fixtures/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      (dir.hashCode & 0x7fffffff) + "/" + kind
    // "#mf2": r15 layout bump — staged corpora now write MULTI-FILE (see
    // below), and a stage written under an older layout at the same path
    // must regenerate rather than keep serving a mismatched file count
    val version = s"$dir@${sourceFingerprint(dir, "documents.parquet")}#$kind#mf2"
    val vFile = new java.io.File(s"$path/_graft_version")
    val fresh = vFile.exists &&
      new String(java.nio.file.Files.readAllBytes(vFile.toPath), "UTF-8") == version
    if (!fresh) {
      // Stage MULTI-FILE (r15, guide §6 file layout): the builders
      // synthesize from a single-file fixture scan, so an as-is write
      // produced ONE parquet file — and every timed decode round then
      // ran the whole codec path on ONE task (profiled: the GIF lane at
      // 1.4 s single-threaded with 31 idle cores). Hash-repartitioning
      // on doc_id at staging time (untimed, once per corpus version)
      // gives the timed scans file-granular parallelism — the layout a
      // real blob corpus has anyway. Deterministic placement (no
      // round-robin): a doc's file follows from its id alone. File
      // count: a quarter of the cores (min 8) — enough that the heavy
      // decode lanes (GIF/AVI/PDF) keep all cores busy at ≤0.2 s/task,
      // without taxing the CHEAP probe lanes with per-file listing +
      // scheduling overhead (measured +0.25 s each at one file per
      // core).
      val par = math.max(8, s.sparkContext.defaultParallelism / 4)
      build.repartition(par, col("doc_id"))
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.write(vFile.toPath, version.getBytes("UTF-8"))
    }
    s.read.parquet(path)
  }

  /** The staged TEN-lane probe fixture corpus — every container the
    * engine parses, one lane per `doc_id % 10`, each field a closed form
    * of doc_id. ONE definition shared by `multimodal_probe` (probe all)
    * and `multimodal_triage` (probe → filter → decode survivors), so
    * both entries and both twins assert the same planting by
    * construction. Staged per corpus fingerprint (the stage `kind`
    * carries a definition version — lane changes must bump it or a
    * stale staged corpus would silently serve the OLD lanes): the
    * AVI/GIF lanes pay ImageIO encode at synthesis, never in a timed
    * round. Lanes 8/9 (r10 cont.) cover the OPEN crawl formats: Ogg
    * with both Vorbis and Opus identification headers, and
    * Matroska/WebM with both DocTypes. */
  private def probeFixtureBlobs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ops.Multimodal
    import Multimodal.FlacConstant
    stagedBlobs(s, dir, "probe_v2") {
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val blob = (id % 10) match {
            case 0 => Multimodal.mp3Bytes((2 + id % 9).toInt, versionBits = 3,
              layerBits = 1, bitrateIdx = (1 + id % 14).toInt, srIdx = 0,
              mono = id % 2 == 0, id3v2Pad = (id % 50).toInt,
              id3v1 = id % 3 == 0)
            case 1 => Multimodal.mp4Bytes("mp42",
              timescale = (600 + (id % 7) * 100).toInt,
              durationTicks = 1000 + id % 9000,
              w = (16 * (1 + id % 120)).toInt, h = (16 * (1 + id % 68)).toInt,
              codec = "avc1")
            case 2 => Multimodal.flacBytes(8000, 16, 1, Seq(
              (0, Seq(FlacConstant(((id % 2000) - 1000).toInt,
                (16 + id % 49).toInt)))))
            case 3 => Multimodal.squareWav(8, (100 + id % 400).toInt, 8000)
            case 4 => Multimodal.mjpegAviVideo(8, 8, (1 + id % 5).toInt,
              k => ((id * 37 + k * 11) % 256).toInt)
            case 5 => Multimodal.gifVideo(6, 6, (1 + id % 4).toInt,
              k => ((id * 41 + k * 13) % 256).toInt)
            case 6 => Multimodal.auBytes(1, 8000, 1,
              Array.tabulate((160 + id % 80).toInt)(i => ((id + i) % 256).toByte))
            case 7 => Multimodal.aiffBytes(8000, 1, 16,
              Multimodal.pcm16be((0 until (120 + id % 90).toInt)
                .map(i => ((id * 3 + i * 7) % 30000 - 15000).toInt)))
            case 8 =>
              if ((id / 10) % 2 == 0)
                Multimodal.oggVorbisBytes(8000, (1 + id % 2).toInt,
                  800 + id % 1600, (32 + id % 96).toInt * 1000)
              else
                Multimodal.oggOpusBytes((1 + id % 2).toInt, preSkip = 312,
                  inputRate = (16000 + (id % 4) * 8000).toInt,
                  samples48k = 960L * (1 + id % 50))
            case _ =>
              if ((id / 10) % 2 == 0)
                Multimodal.webmBytes("webm", 500 + id % 9000,
                  (2 * (1 + id % 960)).toInt, (2 * (1 + id % 540)).toInt,
                  "V_VP8")
              else
                Multimodal.webmBytes("matroska", 500 + id % 9000,
                  (2 * (1 + id % 960)).toInt, (2 * (1 + id % 540)).toInt,
                  "V_MPEG4/ISO/AVC")
          }
          Row(id, blob)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
    }
  }

  /** The staged SIX-lane image-probe corpus (r11) — one definition
    * shared by `multimodal_probe_images` (probe all) and
    * `multimodal_triage_images` (probe → dims/format filter → decode
    * survivors), so both entries and twins assert the same planting by
    * construction. JPEG/PNG/BMP lanes are real JDK-encoder output;
    * WebP/TIFF/HEIF are hand-built spec-shaped headers. */
  private def imageProbeFixtureBlobs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    stagedBlobs(s, dir, "probe_img_v3") {
        val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
        s.createDataFrame(
          ids.rdd.map { r =>
            val id = r.getLong(0)
            val w = (8 + id % 40).toInt
            val h = (6 + id % 30).toInt
            val blob = (id % 6) match {
              case 0 => Multimodal.constantJpeg(w, h, (40 + id % 180).toInt)
              case 1 => Multimodal.constantPng(w, h,
                (id % 256).toInt, ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
              case 2 => (id / 6 % 3) match {
                case 0 => Multimodal.webpBytes("vp8", w, h)
                case 1 => Multimodal.webpBytes("vp8l", w, h)
                case _ => Multimodal.webpBytes("vp8x", w, h,
                  animFrames = (1 + id % 5).toInt)
              }
              case 3 => Multimodal.constantBmp(w, h, (30 + id % 200).toInt)
              case 4 => Multimodal.tiffBytes(le = id % 2 == 0,
                pages = (0 until (1 + id % 4).toInt).map(p =>
                  (w + p, h + p)),
                compression = (id / 6 % 3) match {
                  case 0 => 1; case 1 => 5; case _ => 8
                })
              case _ =>
                if (id % 2 == 0)
                  Multimodal.heifBytes("avif", 16 * w, 16 * h, "av1C",
                    thumbW = w, thumbH = h)
                else Multimodal.heifBytes("heic", 16 * w, 16 * h, "hvcC")
            }
            Row(id, blob)
          },
          StructType(Seq(StructField("doc_id", LongType),
            StructField("blob", BinaryType))))
      }
}

  /** The staged PDF fixture corpus (r11): one PDF per document, page
    * texts a closed form of doc_id so the extraction twin is exact.
    * Lanes: `id%13==0` encrypted (flag path), else `id%17==0` non-PDF
    * garbage (quarantine path), else `id%7==0` the modern xref-stream
    * + object-stream layout, else classic xref with FlateDecode on
    * even ids and uncompressed on odd — every parser branch ships in
    * the corpus the bench cold-reads. */
  private def pdfFixtureBlobs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ops.Pdf
    stagedBlobs(s, dir, "pdf_v2") {
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val blob =
            if (id % 13 == 0) Pdf.pdfBytes(pdfFixturePages(id), encrypted = true)
            else if (id % 17 == 0) s"GARBAGE $id — not a pdf".getBytes("UTF-8")
            else if (id % 7 == 0) Pdf.pdfBytesXrefStream(pdfFixturePages(id))
            else Pdf.pdfBytes(pdfFixturePages(id), compress = id % 2 == 0,
              lzw = id % 19 == 0) // same text; the LZW filter path in the hash
          Row(id, blob)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
    }
  }

  /** Encrypted-PDF fixture corpus (r12, V5 lanes r13): every document
    * genuinely encrypted by the standard security handler with an EMPTY
    * user password (owner restrictions only — the class every viewer
    * opens credential-free): AES-256 `/V 5 /R 6 /AESV3` on id%3==0,
    * else AES-128 `/V 4 /R 4 /AESV2` on even ids / RC4-128 `/V 2 /R 3`
    * on odd. The `id%11==0` lane carries a REAL user password (classic
    * AND V5 sub-lanes) and must stay quarantined. Page texts are the
    * same closed form as [[pdfFixtureBlobs]], so the extraction twin is
    * exact. */
  private def pdfEncryptedBlobs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.ops.Pdf
    stagedBlobs(s, dir, "pdf_enc_v2") {
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          // r13 lane split: id%3==0 → /V 5 /R 6 AES-256; the rest keep
          // the r12 mix (/V 4 /R 4 AESV2 on even ids, /V 2 /R 3 RC4 on
          // odd). The password lane (id%11==0) now also alternates
          // classic/V5, so BOTH quarantine paths stay pinned.
          val blob = Pdf.pdfBytesEncrypted(pdfFixturePages(id),
            aes = id % 2 == 0,
            userPwd = if (id % 11 == 0) "secret" else "",
            rev = if (id % 3 == 0) 6 else 0)
          Row(id, blob)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
    }
  }

  /** Closed-form page texts: `1 + id%3` pages, page p has
    * `1 + (id+p)%3` lines `doc <id> (page <p>) line <k>` — parens
    * exercise literal-string escaping on every document. */
  private def pdfFixturePages(id: Long): Seq[Seq[String]] =
    (1 to (1 + id % 3).toInt).map { p =>
      (1 to (1 + ((id + p) % 3)).toInt).map(k => s"doc $id (page $p) line $k")
    }

  /** The staged WARC fixture segments (r10 cont.): SIXTEEN files —
    * eight plain `.warc`, eight `.warc.gz` with one gzip member PER
    * RECORD, the Common Crawl many-segments layout (file-granular
    * parallelism is the scan's scale axis, so the fixture must ship
    * more segments than a handful) — each opening with a `warcinfo`
    * record, then per document (lane = doc_id % 16) a `request`
    * record AND a `response` record whose HTTP body is a closed-form
    * HTML wrapper of the document text. Staged once per corpus
    * fingerprint; synthesis is fixture-scale driver work via
    * toLocalIterator (streamed, never a full collect). */
  private def stagedWarcDir(s: SparkSession, dir: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_fixtures/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      (dir.hashCode & 0x7fffffff) + "/warc_v2"
    val version = s"$dir@${sourceFingerprint(dir, "documents.parquet")}#warc_v2"
    val vFile = new java.io.File(s"$path/_graft_version")
    val fresh = vFile.exists &&
      new String(java.nio.file.Files.readAllBytes(vFile.toPath), "UTF-8") == version
    if (!fresh) {
      import graft.ingest.WarcSource
      val d = new java.io.File(path)
      rmTree(d); d.mkdirs()
      val plain = (0 to 7).map(l => new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$path/lane$l.warc"), 1 << 16))
      val gz = (8 to 15).map(l => new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$path/lane$l.warc.gz"), 1 << 16))
      def record(lane: Int)(body: java.io.OutputStream => Unit): Unit =
        if (lane <= 7) body(plain(lane))
        else WarcSource.writeGzMember(gz(lane - 8))(body)
      val info = "software: graft\r\n".getBytes("UTF-8")
      (0 to 15).foreach(l => record(l)(WarcSource.writeRecord(_, "warcinfo",
        Seq("Content-Type" -> "application/warc-fields"), info)))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").orderBy("doc_id")
      val it = docs.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val id = r.getLong(0)
        val lane = (id % 16).toInt
        val uri = s"https://corpus.example/doc/$id"
        record(lane)(WarcSource.writeRecord(_, "request",
          Seq("WARC-Target-URI" -> uri,
            "Content-Type" -> "application/http; msgtype=request"),
          s"GET /doc/$id HTTP/1.1\r\nHost: corpus.example\r\n\r\n"
            .getBytes("ISO-8859-1")))
        val html = s"<html><body><p>${r.getString(1)}</p></body></html>"
        record(lane)(WarcSource.writeRecord(_, "response",
          Seq("WARC-Target-URI" -> uri,
            "WARC-Date" -> "2024-01-01T00:00:00Z",
            "WARC-Record-ID" -> s"<urn:uuid:doc-$id>",
            "Content-Type" -> "application/http; msgtype=response"),
          WarcSource.httpResponseBlock(200, "text/html; charset=utf-8",
            html.getBytes("UTF-8"))))
      }
      (plain ++ gz).foreach(_.close())
      java.nio.file.Files.write(vFile.toPath, version.getBytes("UTF-8"))
    }
    path
  }

  /** Staged WARC segments whose responses carry `application/pdf`
    * bodies — the crawl-delivery form of the [[pdfFixtureBlobs]] corpus
    * (same lanes: encrypted, non-PDF garbage, both xref layouts), for
    * the end-to-end crawl→PDF→text pipeline entry. EIGHT segments,
    * half `.warc.gz` per-record-member. */
  private def stagedPdfWarcDir(s: SparkSession, dir: String): String = {
    import graft.ingest.WarcSource
    val path = s"${sys.props("java.io.tmpdir")}/graft_fixtures/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      (dir.hashCode & 0x7fffffff) + "/warc_pdf_v2"
    val version = s"$dir@${sourceFingerprint(dir, "documents.parquet")}#warc_pdf_v2"
    val vFile = new java.io.File(s"$path/_graft_version")
    val fresh = vFile.exists &&
      new String(java.nio.file.Files.readAllBytes(vFile.toPath), "UTF-8") == version
    if (!fresh) {
      val d = new java.io.File(path)
      rmTree(d); d.mkdirs()
      val outs = (0 to 3).map(l => new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$path/lane$l.warc"), 1 << 16)) ++
        (4 to 7).map(l => new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(s"$path/lane$l.warc.gz"), 1 << 16))
      def record(lane: Int)(body: java.io.OutputStream => Unit): Unit =
        if (lane <= 3) body(outs(lane))
        else WarcSource.writeGzMember(outs(lane))(body)
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").orderBy("doc_id")
      val it = ids.toLocalIterator()
      while (it.hasNext) {
        val id = it.next().getLong(0)
        import graft.ops.Pdf
        val body =
          if (id % 13 == 0) Pdf.pdfBytes(pdfFixturePages(id), encrypted = true)
          else if (id % 17 == 0) s"GARBAGE $id — not a pdf".getBytes("UTF-8")
          else if (id % 7 == 0) Pdf.pdfBytesXrefStream(pdfFixturePages(id))
          else Pdf.pdfBytes(pdfFixturePages(id), compress = id % 2 == 0,
            lzw = id % 19 == 0)
        record((id % 8).toInt)(WarcSource.writeRecord(_, "response",
          Seq("WARC-Target-URI" -> s"https://corpus.example/pdf/$id",
            "WARC-Date" -> "2024-01-01T00:00:00Z",
            "Content-Type" -> "application/http; msgtype=response"),
          WarcSource.httpResponseBlock(200, "application/pdf", body)))
      }
      outs.foreach(_.close())
      java.nio.file.Files.write(vFile.toPath, version.getBytes("UTF-8"))
    }
    path
  }

  /** The planted image-blob table shared by `dedup_image_dhash` and
    * `dedup_image_keep`: every doc's PNG encodes the 60-bit md5(doc_id)
    * prefix as its dHash ([[graft.ops.Multimodal.dhashPng]]); docs < 40
    * get a near-dup copy at +1000000 with bits 0 and 2 flipped. ONE
    * definition so the pair entry and the keep entry assert the same
    * planting by construction.
    *
    * STAGED per corpus fingerprint (r15 — the r10 `stagedBlobs`
    * rationale applied here too): the inline form re-ran ImageIO PNG
    * ENCODE of every fixture blob inside each timed round, on one task
    * (the synthesis rdd inherits the single-file scan's partitioning) —
    * profiled at ~5 s of task runtime across the two image-dedup
    * entries. The entries exist to measure PNG DECODE + dHash + banding,
    * which is exactly what the cold read of the staged table times. */
  private def plantedDHashBlobs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    stagedBlobs(s, dir, "dhash_v1") {
      def pat(id: Long): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      s.createDataFrame(
        ids.rdd.flatMap { r =>
          val id = r.getLong(0)
          val q = pat(id)
          val base = Row(id, Multimodal.dhashPng(q))
          if (id < 40) Seq(base, Row(id + 1000000L, Multimodal.dhashPng(q ^ 5L)))
          else Seq(base)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------------- A3/A4
    // relational multi-aggregate groupBy (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ------------------------------------------------------------- S1/P1-P4
    // raw range scan: time-range + label-filter pushdown (select.go:572-606)
    "tsdb_raw" -> ((s, dir) => {
      QueryEngine.raw(Samples.fromEvents(s, dir),
        SelectParams(name = "click", filter = "labels['user'] = '7'", from = F, to = T))
    }),

    // DSv2 batch source (r12): `spark.read.format("graft")` serves the
    // same merged raw view as readRaw with name/time/labels_str pushdown
    // and part_start partition pruning — the batch complement of the
    // graft-cdc streaming source (reference read surface
    // pquerier/querier.go:80-140). The filter columns all push into the
    // scan (GraftSourceSpec pins the plan); the oracle is the tsdb_raw
    // twin, so a hash match proves the source serves the identical view.
    "tsdb_dsv2_read" -> ((s, dir) => {
      val t = storedTable(s, dir)
      s.read.format("graft").load(t.path)
        .filter(col("name") === "click" && col("labels_str") === "user=7" &&
          col("time").between(F, T))
        .select(col("name"), col("labels_str"), col("time").as("t"),
          col("value").as("v"), col("valueStr").as("vstr"))
        .orderBy("name", "labels_str", "t")
    }),

    // DSv2 over a MOR table (r12): rewrites + tombstone deletes must be
    // served MERGED by the source's shuffle-free k-way merge (sorted
    // (series_id, time) runs per file; LWW by __seq; tombstone winners
    // drop). Staged private table: rewrite click values in the first 5
    // days (+100), tombstone-delete purchase days 10-15, then aggregate
    // through format("graft") — the DuckDB twin applies the same two
    // mutations to the events CTE, so a hash match proves the merge.
    "tsdb_dsv2_mor" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_mor")
      try {
        val cfg = graft.storage.TsdbConfig(overrideOld = true)
        graft.core.SchemaJson.write(s"$tmp/table", cfg) // MOR-ness is a table property
        val t = new graft.storage.TsdbTable(s, s"$tmp/table", cfg)
        t.append(samples)
        t.append(samples
          .filter(col("name") === "click" && col("time").between(F, F + 5 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.delete(F + 10 * Day, F + 15 * Day - 1, metrics = Seq("purchase"))
        val out = s.read.format("graft").load(t.path)
          .groupBy("name")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
          .orderBy("name")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally rmTree(tmp.toFile)
    }),

    // DSv2 WRITE path (r12): df.write.format("graft").mode(append) runs
    // the full append orchestration through the V1Write fallback (raw
    // partitioned write + rollup + names + one atomic commit + .schema
    // self-description); the written table is read back through the
    // DSv2 source and aggregated — the twin recomputes from the events
    // CTE, so a hash match proves the round trip end to end.
    "tsdb_dsv2_write" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_write")
      try {
        samples.write.format("graft").mode("append").save(s"$tmp/table")
        val out = s.read.format("graft").load(s"$tmp/table")
          .filter(col("name") === "view")
          .groupBy("labels_str")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
          .orderBy("labels_str")
        val rows = out.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      } finally rmTree(tmp.toFile)
    }),

    // DSv2 aggregate pushdown (r13): global COUNT(*)/COUNT(col)/MIN/MAX
    // collapse to a parquet FOOTER walk inside the source
    // (SupportsPushDownAggregates — GraftSourceSpec pins the
    // PushedAggregates plan and the stats/row-fallback split); the twin
    // recomputes the same aggregates from the events CTE, so a hash
    // match proves the stats-served partials merge to the exact answer
    // (count(valueStr) exercises the footer NULL-count lane: the stored
    // table's valueStr chunks are all-null).
    "tsdb_dsv2_agg" -> ((s, dir) => {
      val t = storedTable(s, dir)
      s.read.format("graft").load(t.path)
        .agg(count(lit(1)).as("cnt"),
          count(col("valueStr")).as("cnt_vstr"),
          min("time").as("min_t"), max("time").as("max_t"),
          min("name").as("min_name"), max("name").as("max_name"),
          // r14: double extrema push through the page-decode path
          // (footer double stats stay untrusted); exact values, no
          // FP arithmetic — hash-exact vs DuckDB
          min("value").as("min_v"), max("value").as("max_v"))
    }),

    // DSv2 SUM/AVG pushdown (r14): sums have no footer form, so the agg
    // reader decodes just the agg columns inside the scan and emits
    // per-partition partials — `GROUP BY part_start` with sum/avg reads
    // two columns and plans a one-row-per-partition exchange.
    // avg(time) arrives as Spark's partial SUM+COUNT rewrite;
    // sum(time)/avg(time) are exact integer lanes (hash-exact vs
    // DuckDB), sum(value) rounds to absorb partial-order FP noise.
    "tsdb_dsv2_sum" -> ((s, dir) => {
      val t = storedTable(s, dir)
      s.read.format("graft").load(t.path)
        .groupBy("part_start")
        .agg(sum("time").as("sum_t"), avg("time").as("avg_t"),
          count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
        .orderBy("part_start")
    }),

    // Label-predicate scan (r15): `.option("label.user", ...)` resolves
    // through the series REGISTRY at planning (series_id set → stripe/
    // row-group pruning + hash-set row test; the exact row-level map
    // filter carries when the registry can't) — the engine-level answer
    // to the reference's filter-to-sharding-key scans (P1/P2,
    // partmgr.go:459-468), since Spark cannot deliver labels['k']='v'
    // to a DSv2 source. For this single-label corpus the twin is the
    // labels_str equality; a second pruned read over a label that
    // matches nothing must contribute zero rows (unioned as a
    // guard-band: count 0 breaks rows_match if pruning over-prunes).
    "tsdb_dsv2_label" -> ((s, dir) => {
      val t = storedTable(s, dir)
      val hit = s.read.format("graft").option("label.user", "42").load(t.path)
        .groupBy("name")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
      val miss = s.read.format("graft")
        .option("label.user", "no_such_user").load(t.path)
        .groupBy("name")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
      hit.unionByName(miss).orderBy("name")
    }),

    // SQL DELETE FROM a USING graft table (r14, SupportsDelete): the
    // same three staged deletes as tsdb_delete, issued as relational
    // DELETE statements — each translates EXACTLY onto the engine
    // delete path (whole-partition drops, boundary rewrites, rollup
    // rebuilds), so the final rollup-served aggregate must hash-match
    // the tsdb_delete twin's oracle. The labels predicate uses the
    // pushable labels_str shape (single-label corpus: labels_str
    // 'user=42' ≡ labels['user']='42').
    "tsdb_dsv2_delete" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_del")
      try {
        val cfg = graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour)
        graft.core.SchemaJson.write(s"$tmp/table", cfg)
        val t = new graft.storage.TsdbTable(s, s"$tmp/table", cfg)
        t.append(samples)
        val tbl = s"graft_sql_del_${System.nanoTime()}"
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$tmp/table')")
        try {
          s.sql(s"DELETE FROM $tbl WHERE time BETWEEN ${F + 10 * Day + 6 * Hour} " +
            s"AND ${F + 13 * Day + 6 * Hour}")
          s.sql(s"DELETE FROM $tbl WHERE name = 'click' " +
            s"AND time BETWEEN ${F + 5 * Day} AND ${F + 6 * Day - 1}")
          s.sql(s"DELETE FROM $tbl WHERE labels_str = 'user=42' " +
            s"AND time BETWEEN ${F + 20 * Day} AND ${F + 22 * Day - 1}")
        } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = SelectParams(functions = "count,sum,min,max",
          from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must exercise the rebuilt rollup")
        val res = r6(t.select(p), Seq("sum", "min", "max"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // SQL UPDATE on a USING graft MOR table (r15,
    // SupportsRowLevelOperations + SupportsDelta): a key-stable UPDATE
    // (SET value) is an LWW re-append — the new version out-seqs the
    // old; a key-moving UPDATE (SET time) tombstones the old key and
    // re-appends under the new one, REPLACING any pre-existing sample
    // at the target key by the same LWW rule. Both must be additive
    // (never a rewrite), and the final aggregate is served from the
    // post-update rollup rebuild. The DuckDB twin applies the same two
    // mutations to the events CTE and resolves target-key collisions
    // with the same updated-row-wins rule (QUALIFY over upd DESC).
    "tsdb_dsv2_update" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_upd")
      try {
        val cfg = graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
          overrideOld = true)
        graft.core.SchemaJson.write(s"$tmp/table", cfg)
        val t = new graft.storage.TsdbTable(s, s"$tmp/table", cfg)
        t.append(samples)
        val physBefore = s.read.parquet(s"$tmp/table/raw").count()
        val tbl = s"graft_sql_upd_${System.nanoTime()}"
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$tmp/table')")
        try {
          s.sql(s"UPDATE $tbl SET value = value * 2 WHERE name = 'view' " +
            s"AND time BETWEEN ${F + 3 * Day} AND ${F + 5 * Day - 1}")
          s.sql(s"UPDATE $tbl SET time = time + $Hour WHERE name = 'click' " +
            s"AND time BETWEEN ${F + 10 * Day} AND ${F + 11 * Day - 1}")
        } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
        require(s.read.parquet(s"$tmp/table/raw").count() > physBefore,
          "SQL UPDATE must re-append LWW versions, never rewrite files")
        val p = SelectParams(functions = "count,sum,min,max",
          from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must exercise the rebuilt rollup")
        val res = r6(t.select(p), Seq("sum", "min", "max"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // SQL MERGE INTO (r15): all three branches — matched-delete
    // (tombstones), matched-update (LWW re-append), not-matched-insert
    // (plain append) — land under ONE commit seq. Source = the staged
    // table's own 'purchase' slice (even users delete, odd users scale
    // 3x) plus ten brand-new samples for an unseen user; the twin
    // replays the same relational mutation on the events CTE.
    "tsdb_dsv2_merge" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsv2_mrg")
      try {
        val cfg = graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
          overrideOld = true)
        graft.core.SchemaJson.write(s"$tmp/table", cfg)
        val t = new graft.storage.TsdbTable(s, s"$tmp/table", cfg)
        t.append(samples)
        val srcA = samples
          .filter(col("name") === "purchase" &&
            col("time").between(F + 7 * Day, F + 8 * Day - 1))
          .select(col("name"), col("labels"), col("time"), col("value"),
            concat(lit("user="), element_at(col("labels"), "user")).as("lstr"),
            (element_at(col("labels"), "user").cast("long") % 2).as("m2"))
        val srcB = s.range(10).select(
          lit("purchase").as("name"),
          map(lit("user"), lit("999999")).as("labels"),
          (lit(F + 25 * Day) + col("id") * Hour).as("time"),
          col("id").cast("double").as("value"),
          lit("user=999999").as("lstr"),
          lit(null).cast("long").as("m2"))
        val view = s"graft_mrg_src_${System.nanoTime()}"
        srcA.unionByName(srcB).createOrReplaceTempView(view)
        val tbl = s"graft_sql_mrg_${System.nanoTime()}"
        s.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$tmp/table')")
        try {
          s.sql(
            s"""MERGE INTO $tbl tgt USING $view src
               |ON tgt.name = src.name AND tgt.labels_str = src.lstr
               |   AND tgt.time = src.time
               |WHEN MATCHED AND src.m2 = 0 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET value = src.value * 3
               |WHEN NOT MATCHED THEN INSERT (name, labels, time, value)
               |  VALUES (src.name, src.labels, src.time, src.value)
               |""".stripMargin)
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          s.catalog.dropTempView(view)
        }
        val p = SelectParams(functions = "count,sum", from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must exercise the rebuilt rollup")
        val res = r6(t.select(p), Seq("sum"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // ------------------------------------------------------------------- S4
    "tsdb_names" -> ((s, dir) => QueryEngine.names(Samples.fromEvents(s, dir))),

    // ------------------------------------------------------------------- S5
    "tsdb_label_values" -> ((s, dir) =>
      QueryEngine.labelValues(Samples.fromEvents(s, dir), "user")),
    "tsdb_label_sets" -> ((s, dir) =>
      QueryEngine.labelSets(Samples.fromEvents(s, dir))),

    // ------------------------------------------------------------------ S12
    "tsdb_count_all" -> ((s, dir) =>
      Samples.fromEvents(s, dir).agg(count(lit(1)).as("cnt"))),

    // ---------------------------------------------------------------- A3/A4
    // full aggregate surface on the 1d tumbling grid (collector.go:171-185)
    "tsdb_client_agg" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "click",
          functions = "count,sum,sqr,min,max,last,avg,stddev,stdvar",
          from = F, to = T, step = Day))
      r6(out, Seq("sum", "sqr", "min", "max", "last", "avg", "stddev", "stdvar"))
    }),

    // ------------------------------------------------------------------- W4
    // rate = Δlast / step_sec between ADJACENT buckets (iterator.go:327-334)
    "tsdb_rate" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "error", functions = "rate", from = F, to = T, step = Day))
      r6(out, Seq("rate"))
    }),

    // ------------------------------------------------------------------- A6
    // GroupBy labels (select.go:354-367)
    "tsdb_groupby_label" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(functions = "count,sum,max", groupBy = "user",
          from = F, to = T, step = 7 * Day))
      r6(out, Seq("sum", "max"))
    }),

    // ------------------------------------------------------------------- A5
    // cross-series `_all`: per-series resample to the grid (next_val,
    // tol 2*step) then merge across series (collector.go:283-338)
    "tsdb_cross_agg" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "purchase", functions = "count_all,sum_all,avg_all",
          from = F, to = T, step = Day))
      r6(out, Seq("sum", "avg"))
    }),

    // ------------------------------------------------------------------- W2
    // sliding aggregation window: cell c covers [c-w, c], cells round UP
    // (collector.go:345-364)
    "tsdb_sliding_window" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "signup", functions = "count,sum,avg",
          from = F, to = T, step = Day, aggregationWindow = 3 * Day))
      r6(out, Seq("sum", "avg"))
    }),

    // ------------------------------------------------------------------- W3
    // overlapping windows ending at floor(to/step)*step (seriesset.go:186-218)
    "tsdb_overlap_windows" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "error", functions = "count,sum",
          from = F, to = T, step = Day, windows = Seq(1, 7, 30)))
      r6(out, Seq("sum"))
    }),

    // ---------------------------------------------------------------- W5/J3
    // downsample to a 6h grid, default next_val interpolation tol 2*step
    // (collector.go:236-281)
    "tsdb_downsample" -> ((s, dir) => {
      val out = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "view", from = F, to = T, step = 6 * Hour))
      r6(out, Seq("v"))
    }),

    // ---------------------------------------------------------------- A1/A2
    // ingest-time rollup partials merged server-side to a coarser step;
    // result must equal direct raw aggregation (aggregate.go:317-361)
    "tsdb_server_agg" -> ((s, dir) => {
      val rollup = Rollup.build(Samples.fromEvents(s, dir).filter(col("name") === "view"), 6 * Hour)
      val out = QueryEngine.serverAggregate(rollup,
        SelectParams(name = "view", from = F, to = T, step = Day),
        Seq("count", "sum", "min", "max", "last", "avg"), 6 * Hour)
      r6(out, Seq("sum", "min", "max", "last", "avg"))
    }),

    // ------------------------------------------------------------ §1.2 variant
    // variant (string) metric: time-ordered last per series per bucket
    // (vartype.go; max_by ≡ EncVariant last-write)
    "tsdb_variant_last" -> ((s, dir) => {
      Samples.variantFromEvents(s, dir)
        .withColumn("labels_str", graft.core.Labels.canonical(col("labels")))
        .filter(col("time").between(F, T))
        .groupBy(col("name"), col("labels_str"),
          (lit(F) + floor((col("time") - F) / Day).cast("long") * Day).as("t"))
        .agg(max_by(col("valueStr"), col("time")).as("last_str"))
        .orderBy("name", "labels_str", "t")
    }),

    // --------------------------------------------------------------- §1.5
    // Prometheus SeriesSet emission: long format, one row per (series,
    // aggregate, t) with the Aggregate label; undefined cells dropped
    // (series.go:33-50)
    "tsdb_seriesset" -> ((s, dir) => {
      val wide = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "click", functions = "count,sum",
          from = F, to = T, step = 7 * Day))
      QueryEngine.toSeriesSet(r6(wide, Seq("sum")), Seq("name", "labels_str"), Seq("count", "sum"))
    }),

    // Prometheus-compatibility emission (reference SelectProm,
    // pquerier/querier.go:128-137): the Aggregate label is DROPPED —
    // single-aggregate only, rows stay unambiguous
    "tsdb_seriesset_prom" -> ((s, dir) => {
      val wide = QueryEngine.select(Samples.fromEvents(s, dir),
        SelectParams(name = "click", functions = "sum",
          from = F, to = T, step = 7 * Day))
      QueryEngine.toSeriesSet(r6(wide, Seq("sum")), Seq("name", "labels_str"),
        Seq("sum"), aggregateLabel = false)
    }),

    // ------------------------------------------------------------------- J1
    // multi-metric timeline alignment: one frame row per (labels, t) with a
    // column per metric (frames.go:479-642 → groupBy+pivot)
    "tsdb_frame_pivot" -> ((s, dir) => {
      QueryEngine.frame(Samples.fromEvents(s, dir),
        SelectParams(from = F, to = T),
        Seq("click", "error", "purchase", "signup", "view"))
    }),

    // mixed-type frame: a float column and a variant (string) column in
    // ONE frame (reference sparse/string dataframe tests,
    // dataframe_query_integration_test.go:267; frames.go:667-684)
    "tsdb_frame_mixed" -> ((s, dir) => {
      QueryEngine.frame(
        Samples.fromEvents(s, dir).unionByName(Samples.variantFromEvents(s, dir)),
        SelectParams(from = F, to = T),
        metrics = Seq("click"), variantMetrics = Seq("props"))
    }),

    // ---------------------------------------------------------------- §2.11
    // reference SQL dialect → SelectParams → engine
    "tsdb_sql" -> ((s, dir) => {
      val p = graft.sql.TsdbSql
        .parse("select count(purchase), max(purchase), avg(purchase) from tsdb where user == '42'")
        .copy(from = F, to = T, step = 7 * Day)
      r6(QueryEngine.select(Samples.fromEvents(s, dir), p), Seq("max", "avg"))
    }),

    // multi-metric aggregate select list (P5/J1: one column per
    // metric×function, reference getColumnName types.go:99) — per-metric
    // aggregation + one pivot-merge shuffle
    "tsdb_multi_agg" -> ((s, dir) => {
      val p = graft.sql.TsdbSql
        .parse("select avg(click), sum(purchase), count(signup) from tsdb")
        .copy(from = F, to = T, step = 7 * Day)
      r6(QueryEngine.select(Samples.fromEvents(s, dir), p),
        Seq("avg(click)", "sum(purchase)"))
    }),

    // -------------------------------------------------------- storage + A1/A2/A7
    // full storage path: append → partitioned raw + rollup → planner picks
    // the materialized rollup (CanAggregate) → partial-merge aggregation
    "tsdb_storage_agg" -> ((s, dir) => {
      val t = storedTable(s, dir)
      val out = t.select(SelectParams(name = "signup", functions = "count,sum,min,max,avg",
        from = F, to = T, step = Day))
      r6(out, Seq("sum", "min", "max", "avg"))
    }),

    // server-side SLIDING window: rollup cells feed every covering grid
    // cell by median time (windowAggregationWithServerAggregates,
    // collector.go:366-381) — span/rollup rows scanned instead of samples
    "tsdb_sliding_server" -> ((s, dir) => {
      val t = storedTable(s, dir)
      val p = SelectParams(name = "view", functions = "count,sum,avg",
        from = F, to = T, step = Day, aggregationWindow = 2 * Day)
      require(t.canServerAggregate(p), "entry must exercise the rollup path")
      r6(t.select(p), Seq("sum", "avg"))
    }),

    // STREAMING ingest, oracle-checked end-to-end: the events samples are
    // staged as 3 time-ranged parquet files, read back as a FILE STREAM
    // (maxFilesPerTrigger=1 → 3 micro-batches through the real
    // IngestJob.start path: watermark + in-watermark dedup +
    // foreachBatch append with INCREMENTAL rollup merges), then an
    // aggregate select is served from the streamed table through the
    // rollup planner. lateArrivalMs is raised to cover the whole span so
    // the watermark can never drop a row on batch-boundary timing — the
    // final table state is then micro-batch-assignment independent
    // (events has no duplicate (series, time) keys and the incremental
    // rollup merge is commutative), which is what makes a streaming path
    // hash-comparable at all. IngestJobSpec covers the 59-min default
    // late-drop and restart semantics that can't be deterministic here.
    "tsdb_ingest_stream" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_stream")
      // materialize the (small, per-day) aggregate and rm the staged
      // copy of the corpus + table + checkpoint before returning — the
      // entry runs every verify/bench round, and a leaked
      // multi-hundred-MB tree per invocation would fill /tmp on
      // long-lived sessions (same rule as Bench.ingestOnce)
      try {
        val staged = s"$tmp/staged"
        samples.repartitionByRange(3, col("time")).write.parquet(staged)
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            lateArrivalMs = T - F + Day))
        val st = s.readStream.schema(samples.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
        val q = graft.streaming.IngestJob.start(st, t, s"$tmp/ckpt")
        try q.processAllAvailable() finally q.stop()
        val out = t.select(SelectParams(name = "signup",
          functions = "count,sum,min,max", from = F, to = T, step = Day))
        val res = r6(out, Seq("sum", "min", "max"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // pre-aggregate cross-label table: GroupBy matches the materialized
    // label subset exactly (select.go:261-283)
    "tsdb_storage_preagg" -> ((s, dir) => {
      val t = storedTable(s, dir)
      val out = t.select(SelectParams(functions = "count,sum", groupBy = "user",
        from = F, to = T, step = 7 * Day))
      r6(out, Seq("sum"))
    }),

    // DELETE (S11, DeletePartitionsData v3iotsdb.go:272-477),
    // oracle-checked end-to-end: stage a private table, run THREE
    // deletes that together exercise every deleteImpl path — (a) an
    // unpredicated range crossing two partition boundaries (interior
    // partitions drop whole, metadata-only; both boundary partitions
    // rewrite without the in-range rows), (b) a metric-predicated
    // delete (row-rewrite path), (c) a label-filter delete (the
    // three-valued-logic path: series without the filtered label keep
    // their rows). The final aggregate is served from the REBUILT
    // rollup (step=1d over a 6h rollup passes canServerAggregate), so a
    // hash match proves refreshRollup's post-delete rebuild as well as
    // the raw survivors. The DuckDB twin applies the same three delete
    // predicates to the events CTE.
    "tsdb_delete" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_delete")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour))
        t.append(samples)
        t.delete(F + 10 * Day + 6 * Hour, F + 13 * Day + 6 * Hour)
        t.delete(F + 5 * Day, F + 6 * Day - 1, metrics = Seq("click"))
        t.delete(F + 20 * Day, F + 22 * Day - 1, filter = "labels['user'] = '42'")
        val p = SelectParams(functions = "count,sum,min,max",
          from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must exercise the rebuilt rollup")
        val res = r6(t.select(p), Seq("sum", "min", "max"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // TOMBSTONE delete (late r7 — the reader-atomic MOR path): the same
    // staged-delete discipline as tsdb_delete, on an overrideOld table
    // where predicated deletes emit tombstones instead of rewriting
    // partitions. Two requires pin the MECHANISM, not just the result:
    // after the deletes the raw table is physically LARGER than before
    // (tombstones are additive), and after compact() physical == logical
    // (tombstones and the rows they shadow purged). The aggregate select
    // is served from the post-delete rollup rebuild; the twin applies
    // the same two delete predicates to the events CTE.
    "tsdb_delete_mor" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_delete_mor")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        val physBefore = s.read.parquet(s"$tmp/table/raw").count()
        t.delete(F + 10 * Day + 6 * Hour, F + 13 * Day + 6 * Hour,
          metrics = Seq("click"))
        t.delete(F + 20 * Day, F + 22 * Day - 1, filter = "labels['user'] = '42'")
        require(s.read.parquet(s"$tmp/table/raw").count() > physBefore,
          "MOR delete must be tombstone-additive, not a rewrite")
        val logical = t.countMetrics()
        t.compact()
        require(s.read.parquet(s"$tmp/table/raw").count() == logical,
          "compaction must purge tombstones and the rows they shadow")
        val p = SelectParams(functions = "count,sum", from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must exercise the rebuilt rollup")
        val res = r6(t.select(p), Seq("sum"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // TIME TRAVEL (r8 — the Delta `VERSION AS OF` / Iceberg snapshot-read
    // shape on the `_commits` exact-set manifest): stage an overrideOld
    // table, take a snapshot handle, then mutate twice — a +100 LWW
    // override of clicks in days 3..6 and a metric-predicated tombstone
    // delete of days 10..12. selectAsOf at the saved handle must
    // reproduce the ORIGINAL aggregate: the twin is the plain
    // untouched-events SQL, so a hash match proves no later batch leaked
    // into the snapshot, and the require pins that the CURRENT view
    // really did change (time travel is not the identity). Since r9 this
    // aggregate is served through the ROLLUP-AT-SNAPSHOT fast path
    // (step=1d over a 6h rollup passes canServerAggregate): untouched
    // partitions read the live rollup, touched ones rebuild partials
    // from the snapshot — tsdb_asof_rollup below pins that mechanism.
    "tsdb_time_travel" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_tt")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        val snap = t.currentSeq()
        t.append(samples
          .filter(col("name") === "click" &&
            col("time").between(F + 3 * Day, F + 7 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        val p = SelectParams(functions = "count,sum", from = F, to = T, step = Day)
        val nowSum = t.select(p).agg(sum("sum")).collect()(0).getDouble(0)
        val res = r6(t.selectAsOf(p, snap), Seq("sum"))
        val snapSum = res.agg(sum("sum")).collect()(0).getDouble(0)
        require(math.abs(nowSum - snapSum) > 1.0,
          "the staged mutations must have changed the current view")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // ROLLUP-AT-SNAPSHOT (r9 — the r8 verdict's #1 ask): an ASOF
    // aggregate query keeps the server-aggregate fast path instead of
    // paying a full raw scan (reference CanAggregate,
    // aggregationParams.go:67-77 — the central optimization time travel
    // previously forfeited). The staged mutations touch only days 3..6
    // (+100 click override) and 10..12 (tombstone delete), so the plan
    // must serve every OTHER partition from the live rollup and rebuild
    // partials from the raw snapshot for the touched ones only — both
    // pinned by plan-receipt requires. The twin is the untouched-corpus
    // aggregate: a hash match proves the mixed rollup+rebuilt plan is
    // exactly the snapshot, cell for cell.
    "tsdb_asof_rollup" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_asof_rollup")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        val snap = t.currentSeq()
        t.append(samples
          .filter(col("name") === "click" &&
            col("time").between(F + 3 * Day, F + 7 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        val p = SelectParams(functions = "count,sum,min,max",
          from = F, to = T, step = Day)
        require(t.canServerAggregate(p), "entry must engage the rollup planner")
        val out = t.selectAsOf(p, snap)
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("/rollup"),
          "untouched partitions must serve from the live rollup")
        require(plan.contains("/raw"),
          "touched partitions must rebuild from the raw snapshot")
        val res = r6(out, Seq("sum", "min", "max"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CDC (r8 — the Delta CDF / Hudi incremental-query shape): from the
    // same staged mutations, `changes(snap)` must return exactly the NET
    // row-level delta — post-image `update`s for the +100 click
    // override paired with their `update_preimage` rows (preImages=true,
    // the CDF half an exact incremental maintainer subtracts), `insert`s
    // for the planted 'probe' rows, pre-image `delete`s for the
    // tombstoned clicks — and nothing else. The twin builds the four
    // closed-form change sets from events directly.
    "tsdb_changes" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        val snap = t.currentSeq()
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100)
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        val res = t.changes(snap, preImages = true)
          .select(col("name"), col("labels_str"), col("time"),
            round(col("value"), 6).as("value"), col("_change_type"))
          .orderBy("name", "labels_str", "time", "_change_type")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // SQL CHANGES (r9 — the r8 verdict's #4 ask): the identical staged
    // CDC feed, reached through the SQL dialect (`CHANGES SINCE n WITH
    // PREIMAGES` → TsdbSql.parseChanges → TsdbTable.sql → changes) —
    // the Delta-CDF-shaped feed without the Scala API. Same staged
    // mutations and twin as tsdb_changes; a hash match proves the SQL
    // surface routes to exactly the programmatic feed.
    "tsdb_changes_sql" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_sql")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        val snap = t.currentSeq()
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100)
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        val res = t.sql(s"changes since $snap with preimages")
          .select(col("name"), col("labels_str"), col("time"),
            round(col("value"), 6).as("value"), col("_change_type"))
          .orderBy("name", "labels_str", "time", "_change_type")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // HISTORY SQL (r9): the commit manifest surfaced as rows (Delta
    // DESCRIBE HISTORY shaped), completing the SQL dialect's version-ops
    // surface — handles for ASOF / CHANGES SINCE are discoverable
    // without the Scala API. Seqs are wall-clock-derived (deliberately
    // not 1,2,3 — restart-safe monotonicity), so the entry normalizes
    // commits to their RANK for the twin and pins the absolute
    // invariants with requires: exactly 3 committed mutations, the
    // grandfathering floor = first commit - 1, and MOR mutations never
    // advancing the rewrite horizon.
    "tsdb_history_sql" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_hist_sql")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        t.append(samples
          .filter(col("name") === "click" &&
            col("time").between(F + 3 * Day, F + 7 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        val rows = t.sql("history").collect()
        val commits = rows.filter(_.getString(0) == "commit")
          .map(_.getLong(1)).sorted
        val floor = rows.find(_.getString(0) == "floor").get.getLong(1)
        val horizon = rows.find(_.getString(0) == "horizon").get.getLong(1)
        require(commits.length == 3,
          s"expected 3 committed mutations, got ${commits.length}")
        require(floor == commits.head - 1,
          s"floor must grandfather to first commit - 1: $floor vs ${commits.head}")
        require(horizon == 0L, "MOR mutations must not advance the horizon")
        import s.implicits._
        rows.map(r => (r.getString(0),
            if (r.getString(0) == "commit")
              (commits.indexOf(r.getLong(1)) + 1).toLong
            else 0L)).toSeq
          .toDF("kind", "ord").orderBy("kind", "ord")
      } finally rmTree(tmp.toFile)
    }),

    // CDC-DRIVEN INCREMENTAL REPLICA (r10 — the r9 verdict's #4 ask):
    // the checkpointed ChangesFeed poll loop consumes the manifest's
    // seq windows and maintains a per-day (count, sum) rollup replica
    // PURELY from insert/update/update_preimage/delete rows — never
    // reading the table itself. Window 1 delivers the initial corpus as
    // inserts; window 2 delivers the same staged mutations as
    // tsdb_changes (override +100, probe inserts, range delete) in one
    // mixed batch. The twin recomputes the FINAL state from scratch in
    // SQL — a hash match proves incremental maintenance converges to
    // the recompute (the CdcReplicaSpec invariant, oracle-checked).
    "tsdb_cdc_replica" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_replica")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        val feed = new graft.streaming.ChangesStream.ChangesFeed(t, s"$tmp/ckpt")
        val replica = new graft.streaming.ChangesStream.RollupReplica(
          s, s"$tmp/replica", Day)
        t.append(samples)
        require(graft.streaming.ChangesStream.drain(feed)(replica.applyBatch) == 1,
          "initial corpus must arrive as one CDC window")
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100)
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        require(graft.streaming.ChangesStream.drain(feed)(replica.applyBatch) == 1,
          "the mixed mutations must arrive as one CDC window")
        val res = replica.state()
          .select(col("name"), col("labels_str"), col("t"),
            col("count").cast("double").as("count"),
            round(col("sum"), 6).as("sum"))
          .orderBy("name", "labels_str", "t")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CDC THROUGH A REAL STREAMING QUERY (r11 — the r10 verdict's #3
    // ask): the SAME replica maintenance as tsdb_cdc_replica, but the
    // windows are delivered by Structured Streaming via
    // `format("graft-cdc")` — the engine's checkpoint carries the seq
    // offsets, Trigger.AvailableNow drains to the latched tip, and the
    // second query is a genuine RESTART against the same checkpoint.
    // Twin = the same from-scratch recompute: a hash match proves the
    // stream-fed replica converges exactly as the hand-rolled feed.
    "tsdb_cdc_source" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_source")
      try {
        val cfg = graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
          overrideOld = true)
        graft.core.SchemaJson.write(s"$tmp/table", cfg) // self-describing:
        // the source reads MOR-ness from the persisted schema
        val t = new graft.storage.TsdbTable(s, s"$tmp/table", cfg)
        val replica = new graft.streaming.ChangesStream.RollupReplica(
          s, s"$tmp/replica", Day)
        def drain(): Unit = {
          val q = s.readStream.format("graft-cdc")
            .option("path", s"$tmp/table").load()
            .writeStream
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (df: DataFrame, id: Long) =>
              replica.applyBatch(df, id + 1); ()
            }
            .start()
          q.awaitTermination(300000L)
          q.stop()
        }
        t.append(samples)
        drain()
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100)
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        drain() // restart: resumes from the engine checkpoint
        val res = replica.state()
          .select(col("name"), col("labels_str"), col("t"),
            col("count").cast("double").as("count"),
            round(col("sum"), 6).as("sum"))
          .orderBy("name", "labels_str", "t")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // DELETION-EXACT EXTENTS VIEW (r11 — the r10 verdict's #5 ask):
    // per-series (cnt, first_t, last_t) maintained incrementally with
    // the bounded-synopsis fix (k=4 candidates behind an exclusive
    // fence per side; exhaustion re-probes AS-OF the window). The
    // staged deletes strip whole day-ranges off BOTH ends of the click
    // series — far more than k distinct times — so the oracle hash pins
    // the eviction AND re-probe paths, not just the happy path; the
    // override rewrite pins that updates never disturb extents.
    "tsdb_cdc_extents" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_extents")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        val feed = new graft.streaming.ChangesStream.ChangesFeed(t, s"$tmp/ckpt")
        val view = new graft.streaming.ChangesStream.SeriesExtentsReplica(
          s, s"$tmp/ext", k = 4,
          snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
        t.append(samples)
        require(graft.streaming.ChangesStream.drain(feed)(view.applyBatch) == 1,
          "initial corpus must arrive as one CDC window")
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100) // update: extents untouched
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F, F + Day - 1, metrics = Seq("click"))          // head range
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click")) // tail-side range
        require(graft.streaming.ChangesStream.drain(feed)(view.applyBatch) == 1,
          "the mixed mutations must arrive as one CDC window")
        val res = view.extents()
          .select(col("name"), col("labels_str"), col("cnt"),
            col("first_t"), col("last_t"))
          .orderBy("name", "labels_str")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CDC TOP-K VALUES VIEW (r12): the extents bounded-synopsis
    // discipline generalized to an ordered top-k over VALUES — k=8
    // synopses of (value, time) pairs per series, updates re-rank
    // through pre-images, the delete range evicts candidates, and the
    // emitted top-2 must equal the DuckDB recompute over the mutated
    // events CTE (the view == recompute contract, hash-exact).
    "tsdb_cdc_topk" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_topk")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        val feed = new graft.streaming.ChangesStream.ChangesFeed(t, s"$tmp/ckpt")
        val view = new graft.streaming.ChangesStream.SeriesTopKReplica(
          s, s"$tmp/topk", k = 8,
          snapshotAt = seq => t.readRawAsOf(0L, Long.MaxValue, seq))
        t.append(samples)
        require(graft.streaming.ChangesStream.drain(feed)(view.applyBatch) == 1,
          "initial corpus must arrive as one CDC window")
        val clicks = samples.filter(col("name") === "click")
        // rewrites move rows UP the value order (+100 dominates);
        // the range delete evicts whatever candidates it covers
        t.append(clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        require(graft.streaming.ChangesStream.drain(feed)(view.applyBatch) == 1,
          "the mixed mutations must arrive as one CDC window")
        val res = view.topK(2)
          .select(col("name"), col("labels_str"), col("rank"),
            col("value"), col("time"))
          .orderBy("name", "labels_str", "rank")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CDC MULTI-VIEW FAN-OUT (r10 cont.): ONE checkpointed feed
    // maintains several views — here per-series moment stats
    // (count/sum/sumsq: variance-capable and, unlike min/max,
    // signed-maintainable EXACTLY under deletes) and a refcounted
    // live-series registry with observed first/last insert watermarks.
    // A mid-fan-out CRASH is staged between the two windows (stats
    // folds window 2 alone, then the restarted maintainer drains the
    // full fan-out — stats must SKIP the replay by its applied-tip),
    // so the hash also pins exactly-once convergence, not just the
    // algebra. The twin recomputes both views from scratch;
    // refcount == live row count cross-checks registry against stats.
    "tsdb_cdc_views" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_views")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        val feed = new graft.streaming.ChangesStream.ChangesFeed(t, s"$tmp/ckpt")
        val stats = new graft.streaming.ChangesStream.SeriesStatsReplica(
          s, s"$tmp/stats")
        val registry = new graft.streaming.ChangesStream.SeriesRegistryReplica(
          s, s"$tmp/registry")
        val mv = new graft.streaming.ChangesStream.MultiViewMaintainer(
          feed, Seq(stats, registry))
        t.append(samples)
        require(mv.drainAll() == 1, "initial corpus must arrive as one window")
        val clicks = samples.filter(col("name") === "click")
        t.append(
          clicks.filter(col("time").between(F + 3 * Day, F + 7 * Day - 1))
            .withColumn("value", col("value") + 100)
            .unionByName(
              clicks.filter(col("time") < F + 2 * Day)
                .withColumn("name", lit("probe"))
                .withColumn("value", col("value") * 2)))
        t.delete(F + 10 * Day, F + 13 * Day - 1, metrics = Seq("click"))
        // crash mid-fan-out: stats folds window 2 alone (offset never
        // committed), then the restart drains everything
        val w = feed.poll().get
        stats.applyBatch(w._3, w._2)
        require(mv.drainAll() == 1,
          "the mixed window must replay into the registry")
        require(stats.appliedUntil == registry.appliedUntil,
          "every view must converge to the same applied tip")
        val res = stats.state().as("st")
          .join(registry.state().as("rg"), Seq("name", "labels_str"))
          .select(col("name"), col("labels_str"),
            col("cnt").cast("double").as("cnt"),
            round(col("sum"), 6).as("sum"),
            round(col("sumsq"), 6).as("sumsq"),
            col("refcount").cast("double").as("refs"),
            col("first_t"), col("last_t"))
          .orderBy("name", "labels_str")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // RETENTION (S11, reference retentionDays config.go:198-200 +
    // partition-age deletion partmgr.go:330,357,390): a 10-day horizon
    // enforced at now=T drops partitions 0..19 whole (the horizon is
    // partition-aligned — no row rewrite) and rebuilds names from the
    // survivors. The select must return ONLY the kept tail; the twin
    // keeps tt >= F+20d.
    "tsdb_retention" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_retention")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            retentionMs = 10 * Day))
        t.append(samples)
        t.applyRetention(nowMs = T)
        val res = r6(t.select(SelectParams(functions = "count,sum",
          from = F, to = T, step = Day)), Seq("sum"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // COMPACTION (S11/§1.2 MOR maintenance): an overrideOld table takes a
    // base append plus a LAST-WRITE-WINS rewrite (+100 on every click
    // sample in days 3..6), then compact() physically rewrites each
    // partition with the merge materialized. The require pins that
    // compaction really dropped the superseded versions (physical parquet
    // row count == logical merged count — before compaction it exceeds it
    // by the override batch); the aggregate select then proves the
    // surviving contents are exactly the LWW view. Twin: CASE the same
    // +100 onto the events CTE.
    "tsdb_compact" -> ((s, dir) => {
      val samples = Samples.fromEvents(s, dir).drop("valueStr")
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
      try {
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour,
            overrideOld = true))
        t.append(samples)
        t.append(samples
          .filter(col("name") === "click" &&
            col("time").between(F + 3 * Day, F + 6 * Day - 1))
          .withColumn("value", col("value") + 100))
        t.compact()
        val physical = s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/table/raw").count()
        val logical = t.countMetrics()
        require(physical == logical,
          s"compaction left superseded rows: $physical physical vs $logical logical")
        val res = r6(t.select(SelectParams(functions = "count,sum",
          from = F, to = T, step = Day)), Seq("sum"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CSV ROUND-TRIP (S6 source + S9 names sink semantics through the
    // real table): the events samples are FORMATTED as reference CSV
    // lines (`name,"labels",value,time` — tsdbctl add -f,
    // add.go:200-328), plus planted lines exercising the parser's
    // multi-sample `v1:v2:v3`/`t1:t2:t3` arrays (add.go:300-326), the
    // ISO-8601 and `now-2h` time dialects (timeutils.go:80-112, nowMs
    // pinned to T for determinism), then parsed back by CsvSource,
    // appended, and aggregate-selected. Value fidelity: Spark's
    // double→string is shortest-round-trip, so parse-back is bit-exact
    // and the twin can aggregate the original events directly (planted
    // rows are closed-form constants in the twin).
    "tsdb_csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv")
      try {
        val ev = Samples.fromEvents(s, dir)
        // a missing 'user' label would NULL the whole concat and surface as
        // an opaque null-text write failure far from the cause — fail here
        // with the offending series name instead (fixture-schema drift guard)
        val user = coalesce(col("labels").getItem("user"),
          raise_error(concat(lit("tsdb_csv_roundtrip: events sample for name="),
            col("name"), lit(" lacks the 'user' label"))).cast("string"))
        val lines = ev.select(concat(
          col("name"), lit(",\"user="), user,
          lit("\","), col("value").cast("string"), lit(","),
          col("time").cast("string")).as("value"))
        val planted = Seq(
          s"planted,\"user=0\",1.5:2.5:3.5,${F + Hour}:${F + 2 * Hour}:${F + 3 * Hour}",
          s"planted,\"user=1\",7.25,${F + Hour}",
          "planted,\"user=2\",9.0,2024-01-02 00:00:00",
          "planted,\"user=3\",4.5,now-2h")
        import s.implicits._
        val staged = s"$tmp/staged"
        lines.union(planted.toDF("value")).coalesce(4).write.text(staged)
        val t = new graft.storage.TsdbTable(s, s"$tmp/table",
          graft.storage.TsdbConfig(rollupIntervalMs = 6 * Hour))
        t.append(graft.ingest.CsvSource.read(s, staged, nowMs = T).drop("valueStr"))
        val res = r6(t.select(SelectParams(functions = "count,sum",
          from = F, to = T, step = Day)), Seq("sum"))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // ============================================================
    // Relational operators Spark provides "for free" (SURVEY §2.3/O5/W6)
    // ============================================================

    // dim-broadcast join + agg + top-k (TPC-H Q3 shape). Only the CUSTOMER
    // dim is broadcast: the date filter keeps ~97% of orders (1992–1998
    // span), so orders⋈lineitem must shuffle on the join key — at 100 TB a
    // broadcast of the filtered fact side would OOM every executor. AQE
    // picks the physical strategy for the big join at runtime.
    "q3_topk_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.join(o.filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
            .join(broadcast(c.filter(col("c_mktsegment") === "BUILDING")),
              col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // ranking window function (W6)
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // ============================================================
    // Training-data pipeline operators (north-star additions)
    // ============================================================

    // token counting: whitespace + BPE-ish regex segmentation
    "text_tokens" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    // REAL BPE token counting (GPT-2-style merges, codegen'd expression)
    // next to the regex approximation — the divergence column is the
    // point: shard budgets sized by the regex count mis-size by exactly
    // that delta. Rows-only by declared design: the merge loop is
    // iterative with no SQL twin; OpsSpec cross-checks the expression
    // against an independent rank-sequential reference implementation
    // (the well-ordered merge table makes the two provably equivalent)
    "text_tokens_bpe" -> ((s, dir) => {
      spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountReal(s, col("text")).as("bpe_tokens_real"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens_regex"))
        .orderBy("doc_id")
    }),

    // REAL BPE through planted fixtures with closed-form counts (the
    // multimodal `_exact` pattern): each component word's merged length
    // under Bpe.DefaultMerges is a constant — " the"→1 (merges 0,1,7),
    // " and"→1 (merges 3,26,33), " qux"→3 (only "qu" fires), and a
    // digit run has no merges so " <id>"→1+len(id). The REAL codegen'd
    // merge loop runs on the Spark side; the DuckDB twin computes the
    // same counts arithmetically — hash-exact proof of the BPE path
    "text_tokens_bpe_exact" -> ((s, dir) => {
      val txt = concat(
        repeat(lit(" the"), (col("doc_id") % 7).cast("int")),
        repeat(lit(" and"), (col("doc_id") % 5).cast("int")),
        repeat(lit(" qux"), (col("doc_id") % 3).cast("int")),
        lit(" "), col("doc_id").cast("string"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCountReal(s, txt).as("bpe_tokens_real"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING end-to-end: learn a merge table from a
    // planted corpus (histogram: "the"×n_docs + " the"×Σ(doc_id%7) →
    // the derivable table (h,e),(t,he),(" ","the") — pair frequencies
    // and the lexicographic tie-break force it), then count fixture
    // text with the LEARNED table at scan speed. " the" merges to one
    // token, digit runs never merge, so counts are arithmetic in the
    // twin — a hash-exact proof of train → merges.txt round-trip →
    // vocab-parameterized counting
    "text_bpe_train" -> ((s, dir) => {
      val corpus = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          concat(lit("the"),
            repeat(lit(" the"), (col("doc_id") % 7).cast("int"))).as("text"))
      val lines = graft.functions.Bpe.toMergesLines(
        TextAnalysis.bpeTrain(corpus, "text", nMerges = 3))
      val fixture = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          repeat(lit(" the"), (col("doc_id") % 7 + 1).cast("int")),
          lit(" "), col("doc_id").cast("string")).as("text"))
      fixture.select(col("doc_id"),
          TextAnalysis.bpeTokenCountWith(s, col("text"), lines).as("learned_tokens"))
        .orderBy("doc_id")
    }),

    // quality scoring: length/punct/stopword features + composite score.
    // Tokenize ONCE in a projection — interpreted HOFs re-evaluate their
    // argument subtrees per use (see TextAnalysis scaladoc)
    "text_quality" -> ((s, dir) => {
      spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__w"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"))
        .select(col("doc_id"), col("text"), col("__w"),
          TextAnalysis.stopwordCounts(s, col("__wl")).as("__sc"))
        .select(col("doc_id") +:
          TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")): _*)
        .withColumn("char_len", col("char_len").cast("long"))
        .withColumn("word_cnt", col("word_cnt").cast("long"))
        .withColumn("punct_cnt", col("punct_cnt").cast("long"))
        .withColumn("digit_cnt", col("digit_cnt").cast("long"))
        .orderBy("doc_id")
    }),

    // language-ID n-gram/stopword heuristic (single tokenizer pass)
    "text_langid" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"))
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.stopwordCounts(s, col("__wl")).as("__sc"))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langIdFromCounts(col("text"), col("__sc")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // TRAINED character-n-gram language-ID (the fastText/CCNet-shaped
    // model path behind the stopword heuristic above): per-language
    // bigram + trigram LMs (r7 backoff) trained in one scan per gram
    // size on a LABELED planted split, argmax interpolated add-k
    // log-likelihood scoring on the held-out split. The fixture plants
    // one sentence per language keyed by doc_id % 5 (en/es/de/fr + CJK
    // zh) — train and score sentences are DIFFERENT word permutations of
    // the same vocabulary, so a hash match proves the model generalizes
    // to unseen strings of each language, with margins set by character
    // statistics (accents, digraphs, CJK code points), not by string
    // identity. Held-out docs with doc_id % 7 == 0 get only the SHORT
    // (≤ 3 words) phrase — the short-document case the trigram backoff
    // must also classify. Oracle: the closed-form planted winner.
    "text_langid_model" -> ((s, dir) => {
      def pick(m: Seq[String]) =
        LangIdFixture.indices.foldRight(lit(null).cast("string")) { (i, e) =>
          when((col("doc_id") % 5).cast("int") === i, lit(m(i))).otherwise(e) }
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id"), "doc_id")
      def planted(sents: Seq[String], shorts: Option[Seq[String]] = None) =
        docs.select(col("doc_id"),
          pick(LangIdFixture.map(_._1)).as("lang"), {
            val long = concat(repeat(concat(pick(sents), lit(" ")),
                (col("doc_id") % 3 + 1).cast("int")),
              col("doc_id").cast("string"))
            shorts.fold(long)(sh => when(col("doc_id") % 7 === 0,
              concat(pick(sh), lit(" "), col("doc_id").cast("string")))
              .otherwise(long))
          }.as("text"))
      val model = TextAnalysis.langIdModelTrain(
        planted(LangIdFixture.map(_._2)).filter(col("doc_id") % 2 === 0),
        "text", "lang")
      TextAnalysis.langIdModelScore(model,
          planted(LangIdFixture.map(_._3), Some(LangIdFixture.map(_._4)))
            .filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .select("doc_id", "pred_lang")
        .orderBy("doc_id")
    }),

    // fastText-style SUPERVISED quality classifier (the DCLM/CCNet
    // model-based filtering step) — the langid-model machinery trained
    // on quality labels: planted good (English prose) vs bad (consonant
    // junk) docs by doc_id parity, trained on doc_id % 4 < 2, scored on
    // held-out WORD-PERMUTED strings of each class. A hash match proves
    // the gate recovers the planted class from character statistics on
    // unseen strings. Oracle: the closed-form parity winner.
    "text_quality_model" -> ((s, dir) => {
      val goodTrain = "the quick brown fox jumps over the lazy dog with their things"
      val goodScore = "their lazy dog jumps over the quick brown fox with the things"
      val badTrain = "zq wx vk jq bz qx kz xv jw qz vx zk qj wv xq"
      val badScore = "vx zk qj wv xq zq wx vk jq bz qx kz xv jw qz"
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id"), "doc_id")
      def pick(a: String, b: String) =
        when(col("doc_id") % 2 === 0, lit(a)).otherwise(lit(b))
      def planted(g: String, b: String) = docs.select(col("doc_id"),
        pick("good", "bad").as("label"),
        concat(repeat(concat(pick(g, b), lit(" ")),
            (col("doc_id") % 3 + 1).cast("int")),
          col("doc_id").cast("string")).as("text"))
      val model = TextAnalysis.qualityModelTrain(
        planted(goodTrain, badTrain).filter(col("doc_id") % 4 < 2),
        "text", "label")
      TextAnalysis.qualityModelScore(model,
          planted(goodScore, badScore).filter(col("doc_id") % 4 >= 2),
          "doc_id", "text")
        .select("doc_id", "pred_label")
        .orderBy("doc_id")
    }),

    // corpus text normalization (NFC composition via the codegen'd
    // graft_nfc expression + CRLF/control/whitespace cleanup — the
    // ingest-first step every curation pipeline runs). The fixture text
    // is clean ASCII, so the entry PLANTS a combining-accent sequence
    // (e + U+0301 → é under NFC), CRLF / lone-CR line endings, a BEL
    // control char and tab/space runs — identically in the oracle, whose
    // nfc_normalize is DuckDB's own Unicode composition
    "text_normalize" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(col("text"),
          lit(" cafe\u0301 line1\r\nline2\rend\u0007 a \t b  ")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.normalizeText(s, col("text")).as("norm_text"))
        .withColumn("norm_len", length(col("norm_text")).cast("long"))
        .orderBy("doc_id")
    }),

    // full Gopher rule suite (named per-rule verdicts, not just a score).
    // Every flag is an INTEGER comparison — bit-exact cross-engine by
    // construction. The fixture text is uniform prose, so the entry
    // PLANTS rule-triggering shapes (bullet lists, ellipsis line ends,
    // symbol runs) on deterministic doc_id strata — identically in the
    // oracle
    "text_gopher_rules" -> ((s, dir) => {
      val planted = spreadSmallScan(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit("\n- bullet one\n- bullet two\n* bullet three")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("\ntrailing thought...\nanother one...")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\n## ## ## ## ##")).otherwise(lit(""))).as("text"))
      planted
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokens(col("text")).as("__w"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"),
          split(col("text"), "\n").as("__lines"))
        .select(col("doc_id") +: TextAnalysis.gopherColumnsFrom(
          col("text"), col("__w"), col("__wl"), col("__lines")): _*)
        .orderBy("doc_id")
    }),

    // HTML → text extraction (crawl preprocessing). The fixture is plain
    // text, so the entry WRAPS it in an HTML page with script/style
    // payloads, entities (incl. the &amp;lt; double-decode trap) and a
    // comment — identically in the oracle
    "text_strip_html" -> ((s, dir) => {
      val planted = spreadSmallScan(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"), concat(
          lit("<html><head><style>body { color: red; }</style>"),
          lit("<script type=\"text/javascript\">var x = 1 < 2 && y > 0;</script></head>"),
          lit("<body><h1>Doc "), col("doc_id").cast("string"), lit("</h1><p>"),
          col("text"),
          lit(" &amp; more&nbsp;&lt;tags&gt; &quot;q&quot; it&#39;s"),
          lit(" literal &amp;lt; stays</p><!-- hidden --></body></html>")).as("html"))
      planted.select(col("doc_id"),
          TextAnalysis.stripHtml(col("html")).as("clean"))
        .orderBy("doc_id")
    }),

    // jusText-style MAIN-CONTENT extraction (r11 — the r10 verdict's #6
    // ask): block-level boilerplate classification over planted
    // template+content pages — a nav link bar, a short heading, 2-4
    // stopword-dense content paragraphs (closed forms of doc_id), a
    // social line, a copyright footer. The nav/social/footer blocks
    // classify `bad` and DROP where text_strip_html keeps their text;
    // the hash pins segmentation, both densities, the copyright rule,
    // and the context-sensitive pass INCLUDING the heading rule (the
    // short h1 PROMOTES — it introduces the good content after it).
    "text_main_content" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val phrase = "the and of to it in that is was for "
      val rows = spreadSmallScan(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id"), "doc_id")
        .rdd.map { r =>
          val id = r.getLong(0)
          val np = 2 + (id % 3).toInt
          val paras = (1 to np).map { p =>
            s"<p>doc $id paragraph $p " +
              phrase * (6 + ((id + p) % 3).toInt) + "</p>"
          }.mkString
          Row(id, "<html><body><nav><a href=a>Home</a> <a href=b>About</a> " +
            "<a href=c>Contact</a></nav>" + s"<h1>Doc $id</h1>" + paras +
            "<p>Follow us on <a href=t>twitter</a></p>" +
            "<footer>© 2024 Example Corp</footer></body></html>")
        }
      val pages = s.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("html", StringType))))
      TextAnalysis.mainContentBlocks(pages)
        .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
          col("cls"), col("kept"), col("text"))
        .orderBy("doc_id", "block_idx")
    }),

    // character-entropy gibberish scoring (binary junk / padding → low,
    // random noise → near-uniform max, prose → narrow band). Integer
    // char counts folded in SORTED order so the float sum is
    // partition-independent and twin-replayable
    "text_entropy" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.charEntropyStats(s, col("text")).as("__st"))
        .select(col("doc_id") +:
          TextAnalysis.charEntropyColumnsFromStats(col("__st")): _*)
        .orderBy("doc_id")),

    // TF-IDF top-terms per document (keyword extraction). Rational idf
    // (N+1)/(df+1): integer-derived operands + correctly-rounded IEEE
    // ops make Spark and DuckDB agree bit-exactly, ranking included
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", k = 5)),

    // PII scrubbing: emails / IPv4s / phone-like runs → tags. The fixture
    // text is synthetic, so the entry PLANTS deterministic PII per doc
    // (identically in the oracle) — the redaction chain is what's tested
    "text_redact" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          TextAnalysis.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com ip 10.0.0."), (col("doc_id") % 256).cast("string"),
            lit(" tel +1 (555) 123-4567 end"))).as("clean"))
        .orderBy("doc_id")),

    // URL → lowercased-host extraction (C4-style curation signal). The
    // fixture text carries no URLs, so the entry PLANTS them (mixed-case
    // host proves the lowercasing; ~2/7 of docs get a second, spammy
    // link) — identically in the oracle, the text_redact discipline
    "text_url_domains" -> ((s, dir) =>
      TextAnalysis.extractDomains(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), concat(
            col("text"),
            lit(" see http://Site"), (col("doc_id") % 50).cast("string"),
            lit(".example.com/p/"), col("doc_id").cast("string"),
            when(col("doc_id") % 7 === 0 || col("doc_id") % 7 === 3,
              concat(lit(" and https://www.spam"),
                (col("doc_id") % 7).cast("string"), lit(".bad/x?q=1")))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text").orderBy("doc_id", "domain")),

    // domain-blocklist filtering with SUFFIX matching: blocking spam0.bad
    // drops the docs linking www.spam0.bad (suffix-explode + equi-join,
    // never a non-equi endswith join); example.org in the blocklist
    // matches nothing planted — proving suffixes don't overreach across
    // registrable domains (example.com stays)
    "text_url_filter" -> ((s, dir) => {
      import s.implicits._
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          col("text"),
          lit(" see http://Site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 7 === 0 || col("doc_id") % 7 === 3,
            concat(lit(" and https://www.spam"),
              (col("doc_id") % 7).cast("string"), lit(".bad/x?q=1")))
            .otherwise(lit(""))).as("text"))
      val blocked = Seq("spam0.bad", "spam3.bad", "example.org").toDF("domain")
      TextAnalysis.dropBlockedDomains(planted, "doc_id", "text", blocked)
        .select("doc_id").orderBy("doc_id")
    }),

    // per-domain volume cap (C4's anti-mirror rule). Planting covers both
    // primary shapes: docs with doc_id%7==3 link ONLY the spam host (so
    // www.spam3.bad IS their primary — ~1/7 of the corpus on one host,
    // capped to 5), every other doc links siteN.example.com (50 hosts,
    // ~10 docs each, capped to 5), and %7==0 docs ALSO link spam0.bad —
    // which loses the lexicographic-min primary race to example.com,
    // exercising the multi-link rule
    "corpus_domain_cap" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          col("text"),
          when(col("doc_id") % 7 =!= 3,
            concat(lit(" see http://Site"), (col("doc_id") % 50).cast("string"),
              lit(".example.com/p/"), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0 || col("doc_id") % 7 === 3,
            concat(lit(" and https://www.spam"),
              (col("doc_id") % 7).cast("string"), lit(".bad/x?q=1")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.capPerDomain(planted, "doc_id", "text", maxPerDomain = 5)
        .select("doc_id").orderBy("doc_id")
    }),

    // intra-doc repetition (Gopher/RefinedWeb-style quality rule):
    // duplicated 3-gram ratio. Grams projected ONCE (HOF re-eval trap)
    "text_repetition" -> ((s, dir) =>
      spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"), TextAnalysis.wordNgramsFast(col("text"), 3).as("__g"))
        .select(col("doc_id") +: TextAnalysis.repetitionColumnsFrom(col("__g")): _*)
        .orderBy("doc_id")),

    // benchmark decontamination: training docs sharing 4-grams with the
    // benchmark set (stand-in: every 25th doc). Broadcast of the exploded
    // benchmark grams — the corpus side never shuffles; self-pairs are the
    // stand-in artifact and excluded here, not in the operator
    "text_decontaminate" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      TextAnalysis.benchmarkOverlap(docs,
          docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", k = 4)
        .filter(col("doc_id") =!= col("bench_id"))
        .orderBy("doc_id", "bench_id")
    }),

    // FUZZY decontamination: cross-dataset MinHash-LSH — corpus docs
    // near-duplicating a benchmark doc (trigram Jaccard >= 0.5) without
    // a corpus self-join or a corpus x benchmark cross product. Same
    // every-10TH-doc benchmark stand-in (wider than the exact entry's
    // every-25th so the fuzzy pair set is non-degenerate); self-pairs are
    // the stand-in artifact and excluded here, not in the operator.
    // Oracle: the brute-force corpus x benchmark Jaccard (verification
    // makes the LSH output an exact subset; banding makes a miss at 0.5
    // ~5e-10)
    "text_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      Dedup.crossMinHashLshPairs(docs,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          k = 3, threshold = 0.5, maxBucketSize = 1000)
        .filter(col("doc_id") =!= col("bench_id"))
        .orderBy("doc_id", "bench_id")
    }),

    // BM25 keyword retrieval: top-20 docs for a 3-term query (one rare
    // term — df 25/500 — plus two common ones, so idf spread is real).
    // Scores sum in a FIXED per-term column order and rank on the
    // ROUNDED score, so the DuckDB twin replays the identical IEEE
    // expression tree and a libm-ulp ln difference cannot flip the top-K
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", Seq("dup", "join", "window"), topK = 20)),

    // bigram-LM perplexity scoring (CCNet-style model-based quality
    // filter), self-trained: every doc scored by its average smoothed
    // bigram log-probability under the corpus's own statistics. Short
    // docs (<2 tokens) keep a NULL-score row. The per-doc total folds a
    // position-sorted array, so the float sum never depends on
    // partitioning and the twin replays the identical ordered fold
    // (r15: NO spreadSmallScan — A/B'd twice at matched calib: the extra
    // exchange costs lmScore's train-side aggregates more map-side-combine
    // efficiency than the target-side explode gains; ppl_buckets/dsir keep
    // theirs — their heavier two-model position streams net positive.)
    "text_lm_score" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.lmScore(docs, docs, "doc_id", "text")
    }),

    // CCNet head/middle/tail: lm_score's perplexity stream stratified at
    // the exact tertiles (integer micro-unit thresholds broadcast back —
    // no corpus-wide sort/ntile). Short docs keep an 'na'-bucket row
    "text_ppl_buckets" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      // scoped: the scored stream feeds the threshold aggregate AND the
      // output — caching it runs the lmScore pipeline once, not twice
      val scored = TextAnalysis.lmScore(docs, docs, "doc_id", "text")
      ops.Caching.scoped(scored)(
        TextAnalysis.perplexityBuckets(scored).orderBy("doc_id"))
    }),

    // DSIR importance resampling (Xie et al. 2023, public): every doc is
    // scored under an en-domain bigram LM and the all-docs background LM;
    // the 6-dp log-likelihood ratio is the importance weight and the top
    // 25% by an exact integer-micro-unit percentile cut are selected —
    // threshold-broadcast, no global sort (ties admit every tied doc).
    // The twin replays BOTH LMs with the lm_score CTE discipline and the
    // same quantile cut.
    "corpus_dsir" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      val w = TextAnalysis.dsirWeights(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text")
      ops.Caching.scoped(w)(
        TextAnalysis.dsirSelect(w, keepFraction = 0.25).orderBy("doc_id"))
    }),

    // CCNet proper stratifies PER LANGUAGE — tertile thresholds from a
    // per-lang percentile aggregate, broadcast-joined back
    "text_ppl_buckets_lang" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val scored = TextAnalysis.lmScore(docs, docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
      ops.Caching.scoped(scored)(
        TextAnalysis.perplexityBucketsBy(scored, "lang")
          .select("doc_id", "lang", "n_bigrams", "avg_logprob", "perplexity",
            "ppl_bucket")
          .orderBy("doc_id"))
    }),

    // exact duplicated-substring spans: 8-token windows occurring
    // verbatim in >= 2 distinct docs, merged into maximal per-doc spans
    // (the exact-substring dedup step document-level dedup can't see)
    "text_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", k = 8)),

    // the SURGERY half of text_dup_spans (Lee et al. 2022): duplicated
    // spans are cut everywhere except the owner doc (min doc id holding
    // the span's first 8-gram); untouched docs keep their text verbatim.
    // The twin replays islands + ownership + anti-join rebuild in SQL
    "text_dup_spans_drop" -> ((s, dir) =>
      Dedup.removeDupSpans(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", k = 8).orderBy("doc_id")),

    // document fingerprinting (normalized md5)
    "doc_fingerprint" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // exact dedup: fingerprint groups with kept id
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),

    // near-dup, brute-force trigram-shingle Jaccard (correctness baseline)
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairsBrute(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", k = 3, threshold = 0.5)),

    // near-dup, MinHash+LSH (the 100 TB path) — verified candidates must
    // equal the brute-force result on this data (oracle is the same SQL).
    // maxBucketSize=1000 is the production mega-bucket guard (degenerate
    // boilerplate corpora at scale): this IS the benched plan, and it
    // cannot bind on the fixtures (≤ corpus size), so the entry stays
    // oracle-exact
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", k = 3, threshold = 0.5, maxBucketSize = 1000)),

    // near-dup CLUSTERING: verified LSH pairs → connected components →
    // every member labeled with its cluster's canonical (min) doc id —
    // the keep/drop decision step of the dedup pipeline. Oracle: recursive
    // transitive closure over the same pair set.
    // deferred pairs inside docClusters: nearDupClusters' eager label
    // checkpoint is the single action that materializes the LSH pipeline —
    // no separate count pass; intermediates and the pairs cache released
    // once it returns
    "dedup_clusters" -> ((s, dir) =>
      docClusters(spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id"))),

    // dedup END PRODUCT: the corpus keep-list after dropping non-canonical
    // near-dup members (anti-join against the clustered pair graph)
    "dedup_keep" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      Dedup.dropNearDuplicates(docs.select("doc_id"), "doc_id",
          docClusters(docs))
        .orderBy("doc_id")
    }),

    // quality-aware dedup keep-list: each near-dup cluster keeps its
    // LONGEST member (whitespace-token count; ties -> min id) instead of
    // the arbitrary min-id canonical — the keep policy production
    // curation actually wants. Integer score, so the keep decision is
    // bit-stable cross-engine
    "dedup_keep_best" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      Dedup.dropNearDuplicatesKeepBest(docs.select("doc_id", "text"),
          "doc_id", docClusters(docs),
          size(TextAnalysis.tokens(col("text"))).cast("long"))
        .select("doc_id").orderBy("doc_id")
    }),

    // incremental dedup (the daily-crawl shape): docs with id >= 400 are
    // the "new batch", the rest the existing corpus; a batch doc survives
    // only if it is no near-dup of ANY existing doc. Cross-LSH pairs with
    // the big side mega-bucket-guarded; oracle = brute cross Jaccard
    "dedup_incremental" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      Dedup.incrementalDedupKeep(
          docs.filter(col("doc_id") >= 400).select("doc_id", "text"),
          docs.filter(col("doc_id") < 400),
          "doc_id", "text", k = 3, threshold = 0.5, maxBucketSize = 1000)
        .select("doc_id").orderBy("doc_id")
    }),

    // dedup receipts: near-dup cluster-size histogram — how many clusters
    // of each size, docs covered, docs a keep-one policy drops
    // incremental dedup against a PERSISTED index (the daily-crawl loop
    // at scale: per-batch compute is the batch's own signatures, history
    // streams from the on-disk shingle/bucket store). Index built once
    // per corpus version (the IVF-index lifecycle); output must equal
    // the recompute-everything dedup_incremental, and the twin IS that
    // entry's brute cross-Jaccard
    "dedup_incremental_indexed" -> ((s, dir) => {
      val docs = spreadSmallScan(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id")
      val hist = docs.filter(col("doc_id") < 400).select("doc_id", "text")
      val version = s"$dir@${sourceFingerprint(dir, "documents.parquet")}#k3h64b32"
      // Path is keyed by the VERSION fingerprint, not just the fixture
      // dir: saveDedupIndex deletes _meta first, so two concurrent JVMs
      // sharing one path could observe the meta-less window. Each build
      // goes to a private temp tree and is atomically renamed into the
      // versioned path — the loser of the race discards its build and
      // reuses the winner's. Superseded fingerprints for this fixture
      // are swept afterwards so /tmp doesn't accumulate stale indexes.
      val base = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_dedup_idx")
      val dirSlug = dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + (dir.hashCode & 0x7fffffff)
      val vslug = java.security.MessageDigest.getInstance("MD5")
        .digest(version.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
      val idxFile = new java.io.File(base, s"${dirSlug}__$vslug")
      val idx = idxFile.toString
      if (!Dedup.readDedupIndexMeta(s, idx).exists(_._1 == version)) {
        val tmpIdx = new java.io.File(base, s".build_${vslug}_${java.util.UUID.randomUUID}")
        Dedup.saveDedupIndex(hist, "doc_id", "text", tmpIdx.toString, version, k = 3)
        try java.nio.file.Files.move(tmpIdx.toPath, idxFile.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.io.IOException =>
          rmTree(tmpIdx)
          if (!Dedup.readDedupIndexMeta(s, idx).exists(_._1 == version)) throw e
        }
      }
      Option(base.listFiles()).foreach(_.foreach { f =>
        // superseded-version sweep is age-gated like .build_ dirs: a
        // concurrent JVM that resolved an OLDER fixture fingerprint
        // (fixture regenerated between launches) may still be reading its
        // index — deleting it immediately would fail that run mid-read
        val old = f.lastModified < System.currentTimeMillis() - 6 * 3600 * 1000L
        val stale = f.getName.startsWith(s"${dirSlug}__") &&
          f.getName != idxFile.getName && old
        val deadBuild = f.getName.startsWith(".build_") && old
        if (stale || deadBuild) rmTree(f)
      })
      Dedup.incrementalDedupKeepIndexed(
          docs.filter(col("doc_id") >= 400).select("doc_id", "text"),
          "doc_id", "text", idx, threshold = 0.5, maxBucketSize = 1000)
        .select("doc_id").orderBy("doc_id")
    }),

    // the streaming daily-crawl loop end-to-end: two file-source
    // micro-batches (history then batch, mtime-ordered) through the REAL
    // streamingDedup foreachBatch — bootstrap index, dedup batch 2
    // against batch 1's survivors, append. Kept set must equal "all of
    // batch 1 + batch 2 minus cross-matches", i.e. the dedup_incremental
    // oracle plus the history — proving the loop's ordering discipline
    // (materialize-before-append) end-to-end
    "corpus_dedup_stream" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val tmp = java.nio.file.Files.createTempDirectory("graft_dstream")
      try {
        val staged = new java.io.File(s"$tmp/staged"); staged.mkdirs()
        def stage(df: DataFrame, name: String, mtime: Long): Unit = {
          val d = s"$tmp/w_$name"
          df.coalesce(1).write.parquet(d)
          val part = new java.io.File(d).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          val dest = new java.io.File(staged, s"$name.parquet")
          java.nio.file.Files.move(part.toPath, dest.toPath)
          dest.setLastModified(mtime)
        }
        val t0 = System.currentTimeMillis() - 600000
        stage(docs.filter(col("doc_id") < 400), "0_hist", t0)
        stage(docs.filter(col("doc_id") >= 400), "1_batch", t0 + 120000)
        val st = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        val q = Dedup.streamingDedup(st, "doc_id", "text",
          s"$tmp/idx", s"$tmp/kept", s"$tmp/ckpt",
          k = 3, threshold = 0.5, maxBucketSize = 1000)
        try q.processAllAvailable() finally q.stop()
        val res = s.read.parquet(s"$tmp/kept").select("doc_id").orderBy("doc_id")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    "dedup_report" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(
        docClusters(spreadSmallScan(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")))),

    // near-dup, SimHash Hamming-banding (no SQL twin: hash-dependent).
    // maxDist=3 keeps the 4x16-bit banding COMPLETE (pigeonhole) so the
    // output is the exact hamming<=3 pair set, deterministically.
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(
        spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
        "doc_id", "text", maxDist = 3)),

    // ORACLE-CHECKABLE SimHash: the identical vote/banding/hamming
    // pipeline with an md5-derived 60-bit token hash (computable in
    // DuckDB, unlike xxhash64) — Spark's conv(hex,16,10) and DuckDB's
    // '0x…'::UBIGINT parse the same 15-hex-char md5 prefix, so the
    // fingerprints and therefore the pair set match hash-exactly.
    // dedup_simhash above (xxhash64, codegen'd) stays the production path
    "dedup_simhash_md5" -> ((s, dir) =>
      Dedup.simHashPairs(
          spreadSmallScan(s.read.parquet(s"$dir/documents.parquet"), "doc_id"),
          "doc_id", "text", maxDist = 3,
          tokenHash = w => conv(substring(md5(w.cast("binary")), 1, 15),
            16, 10).cast("long"))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // embedding-cosine near-dup pairs
    "dedup_embedding" -> ((s, dir) =>
      Similarity.nearDupPairs(s.read.parquet(s"$dir/embeddings.parquet"), 0.45)),

    // embedding near-dup via SRP-LSH (sign-random-projection — the
    // LSH-bucketed embedding scale path next to k-means blocking and
    // IVF) in its HONEST regime: SRP banding only beats brute force at
    // high thresholds (ρ ≈ 0.22 at cosine 0.9 vs 0.63 at 0.45 — see the
    // operator docstring), and the fixture's max organic pair sits at
    // cosine 0.513, so near-dups are PLANTED — each vec_id < 40 gets a
    // copy shifted by +0.02 per component (the vectors are unit-norm, so
    // planted cosines land at ≈ 0.987-0.989 — above threshold with
    // margin, yet far from the trivial 1.0; organic pairs stay far below
    // 0.9). The DuckDB twin replicates the
    // same construction (the text_redact discipline), and the verified
    // output EQUALS its brute-force pair set under the production
    // defaults (256 bits / 32 bands)
    // (r15: NO spreadSmallScan here or on sim_semdedup — measured: SRP
    // hashing is cheap per row, and the spread propagated 32-partition
    // tables into the iterative connected-components loop over ~1k-row
    // data, costing more in per-iteration task overhead than the scan
    // parallelism bought: bench +0.2/+0.9 s. knnGraphIvf keeps it — its
    // probe-scan compute dominates.)
    "dedup_embedding_srp" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") < 40)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.02)).cast("float")).as("embedding"))
      Similarity.nearDupPairsSrp(base.unionByName(planted), 0.9)
    }),

    // SemDeDup end product: embedding-space near-dup components collapsed
    // to their min-id canonical member — semantic dedup over the SRP-LSH
    // scale path. Planted construction extends dedup_embedding_srp's with
    // a SECOND copy layer (vec_id < 20 shifted +0.04 at +2000000): copy2
    // sits at cosine ≈0.988 to copy1 but farther from the source, so
    // components of size 3 form partly through TRANSITIVE edges — the
    // closure step is load-bearing, not decorative. Expected keep-list:
    // exactly the base ids (every planted copy collapses into its
    // source's component); the oracle derives that from scratch via
    // brute-force pairs + recursive closure + anti-join
    "sim_semdedup" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      def shifted(ids: Long, offset: Long, delta: Double) =
        base.filter(col("vec_id") < ids)
          .select((col("vec_id") + offset).as("vec_id"),
            transform(col("embedding"),
              x => (x.cast("double") + lit(delta)).cast("float")).as("embedding"))
      val all = base
        .unionByName(shifted(40, 1000000L, 0.02))
        .unionByName(shifted(20, 2000000L, 0.04))
      Similarity.semDedupKeep(all, 0.9).orderBy("vec_id")
    }),

    // SEMANTIC decontamination over the IVF path: the eval set is 40
    // PLANTED paraphrase embeddings (+0.02-shifted copies of vec_id < 40,
    // the dedup_embedding_srp construction — cosine ≈ 0.987-0.989 to
    // their sources, organic pairs max ≈ 0.513), so the kept list must
    // drop exactly the contaminated sources the probing FINDS. Pinned
    // first-16 centroids make assignment + probing deterministic: the
    // twin replays the whole pipeline (including any probe-recall
    // misses) and the kept ids match hash-exactly
    "sim_decontaminate" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val evals = e.filter(col("vec_id") < 40)
        .select((col("vec_id") + 1000000L).as("e_id"),
          transform(col("embedding"),
            x => (x.cast("double") + lit(0.02)).cast("float")).as("e_vec"))
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.semanticDecontaminate(e, evals, threshold = 0.9, cents, nProbe = 4)
    }),

    // exact ANN baseline: brute-force cosine top-5 for 10 query vectors
    "sim_topk" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(e, q, k = 5)
    }),

    // the full k-NN graph (top-3 neighbors for EVERY vector — the
    // structure semantic dedup / retrieval analysis builds on). Exact
    // self-join baseline; the IVF-blocked entry below is the scale path
    "sim_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 3)),

    // k-NN graph via IVF multi-probe blocking (candidates = members of
    // each vector's 4 nearest of 16 cells — ~n²/4 of the brute pair
    // volume here, n²·nProbe/nCentroids in general). trainIters=0 pins
    // the centroids to the first 16 vectors, so the whole approximate
    // graph is deterministic and the DuckDB twin replicates assignment,
    // probing and ranking exactly — hash-exact, same discipline as
    // sim_ann_ivf_recall
    "sim_knn_graph_ivf" -> ((s, dir) =>
      Similarity.knnGraphIvf(
        spreadSmallScan(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id"),
        k = 3, nCentroids = 16, nProbe = 4, trainIters = 0)),

    // per-dimension embedding profile (normalization/whitening receipts,
    // drift monitoring). Integer-scaled decimal sums make the float
    // aggregation order-independent and twin-exact — see dimStats
    "sim_embed_stats" -> ((s, dir) =>
      Similarity.dimStats(s.read.parquet(s"$dir/embeddings.parquet"))),

    // cluster-balanced diversity sampling (r8 — the per-cluster quota
    // step between semantic clustering and the training mix): pinned
    // first-16 centroids → nearest-cell assignment → deterministic
    // md5-rank quota of 25 per cluster. Same pinned-centroid discipline
    // as sim_knn_graph_ivf, so the twin replays assignment and ranking
    // exactly; the two-phase salted top-k (the head-cluster skew guard)
    // must be invisible in the result
    "sim_cluster_sample" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.clusterSample(e, cents, perCluster = 25)
        .orderBy("cluster", "rank")
    }),

    // int8 embedding quantization (vector compression before ANN at
    // scale: 4x smaller, SIMD-friendly). floor(x+0.5) not round(): IEEE
    // floor/multiply are bit-identical across engines, round half-modes
    // are not — see Similarity.quantizeInt8
    // the operator returns qvec as array<int>; the CORRECTNESS entry
    // serializes it to a scalar CSV string because the driver's oracle
    // comparer sorts on every output column and numpy arrays are
    // unhashable there — both twins emit the same "1,-3,..." text
    "sim_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(s.read.parquet(s"$dir/embeddings.parquet"))
        .withColumn("qvec", concat_ws(",", col("qvec").cast("array<string>")))
        .orderBy("vec_id")),

    // IVF-bucketed ANN (scale path; approximate — rows-only check, recall
    // asserted against the brute-force baseline in the test suite)
    "sim_ann_ivf" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // index persisted on disk per corpus version: a COLD JVM loads the
      // trained centroids instead of re-running Lloyd's — training is paid
      // once per corpus, amortized across drivers (Similarity.saveIvfIndex).
      // Version = path + source fingerprint, so a regenerated corpus at
      // the same path invalidates the index
      val cents = Similarity.trainOrLoadIvfIndex(e, ivfIndexPath(dir),
        version = s"$dir@${sourceFingerprint(dir, "embeddings.parquet")}",
        nCentroids = 16, iters = 3)
      Similarity.ivfTopKWith(e, q, k = 5, cents, nProbe = 4)
    }),

    // IVF RECALL, hash-checkable: per-query |IVF top-5 ∩ brute top-5| as
    // an integer. trainIters=0 pins the centroids to the first 16 vectors
    // by vec_id (no Lloyd's, no Spark-hash-order dependence), so the
    // ENTIRE approximate pipeline — nearest-centroid assignment, nProbe=4
    // probing, within-cell ranking — is replicated exactly by the DuckDB
    // twin and the recall integers must match hash-exactly. This proves
    // the IVF machinery (not just its row count): any mis-assignment,
    // probe-ordering bug or ranking drift changes some query's hit count.
    // (sim_ann_ivf above keeps the PRODUCTION shape: trained centroids +
    // on-disk index; its recall is asserted vs brute force in OpsSpec.)
    "sim_ann_ivf_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val ivf = Similarity.ivfTopK(e, q, k = 5, nCentroids = 16, nProbe = 4,
        trainIters = 0)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
      brute.select(col("q_id"), col("vec_id"))
        .join(ivf.select(col("q_id"), col("vec_id"), lit(1).as("__m")),
          Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(col("__m")).as("hits"))
        .orderBy("q_id")
    }),

    // TRUE product quantization (r8 — Jégou et al. 2011, the FAISS IVFPQ
    // memory shape: m bytes per vector, 32× at dim 64 / m 8, vs the int8
    // path's 4×): 8 subspaces × 16-codeword codebooks pinned to the
    // first-16 vectors' subvectors (iters=0), IVF cells pinned first-16,
    // probe scan ranked by ADC through the codegen'd graft_pq_adc LUT
    // kernel, float re-rank of the top-10 shortlist. Recall vs brute
    // top-5 as hash-exact integers; the twin replays subvector argmin
    // encoding (the engine's exact 2·x·c − ||c||² score), reconstruction
    // norms, probing, the LUT sum and both rankings arithmetically.
    "sim_ann_pq_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cbs = Similarity.pqCodebooks(e, m = 8, ksub = 16, iters = 0)
      val codes = Similarity.pqBuildIndex(e, cents, cbs)
      val pq = Similarity.ivfPqAdcTopKWith(e, q, k = 5, cents, cbs, codes,
        nProbe = 4, refine = 10)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
      brute.select(col("q_id"), col("vec_id"))
        .join(pq.select(col("q_id"), col("vec_id"), lit(1).as("__m")),
          Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(col("__m")).as("hits"))
        .orderBy("q_id")
    }),

    // RESIDUAL-encoded IVF-PQ (r8 — the FAISS IVFPQ default: codebooks
    // quantize x − c(home cell), whose near-zero spread makes the same
    // ksub codewords far finer): pinned first-16 cells, residual
    // codebooks seeded from the first-16 vectors' residuals (iters=0),
    // the index stores full reconstruction norms ‖c + recon‖, and the
    // ADC numerator gains the per-probe dot(q, c_cell) term. Recall vs
    // brute as hash-exact integers; the twin replays residual
    // computation, codebook seeding, argmin encoding, the cross-table
    // norm, probing, the centroid + LUT numerator and both rankings.
    "sim_ann_pqr_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cbs = Similarity.pqCodebooksResidual(e, cents, m = 8, ksub = 16, iters = 0)
      val codes = Similarity.pqBuildIndexResidual(e, cents, cbs)
      val pq = Similarity.ivfPqResidualTopKWith(e, q, k = 5, cents, cbs, codes,
        nProbe = 4, refine = 10)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
      brute.select(col("q_id"), col("vec_id"))
        .join(pq.select(col("q_id"), col("vec_id"), lit(1).as("__m")),
          Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(col("__m")).as("hits"))
        .orderBy("q_id")
    }),

    // the PQ SERVING path alone (headline-benched; sim_ann_pq_recall
    // above pins the same pipeline against brute force): pinned
    // codebooks/cells, ADC probe scan, float re-rank — output is the
    // served top-5 itself, hash-exact via the same arithmetic twin
    "sim_ann_pq" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cents = e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      val cbs = Similarity.pqCodebooks(e, m = 8, ksub = 16, iters = 0)
      val codes = Similarity.pqBuildIndex(e, cents, cbs)
      Similarity.ivfPqAdcTopKWith(e, q, k = 5, cents, cbs, codes,
        nProbe = 4, refine = 10)
    }),

    // COLD-SERVING true PQ (r9 — the r8 verdict's #2 ask): the same
    // pinned arithmetic as sim_ann_pq, but through the PERSISTED ADC
    // index lifecycle. The first call per corpus version builds the
    // pinned cells + codebooks + codes and saves them
    // (Similarity.saveIvfIndex / saveAdcIndex, kind-stamped); every
    // later call — including every timed bench round — COLD-LOADS the
    // index and pays probe + ADC LUT + float re-rank only: no codebook
    // training, no corpus encode. This is the production true-PQ
    // serving cost the headline bench now reports (sim_ann_pq keeps the
    // inline-build shape and is benched beside it, so the artifact
    // separates build-dominated from serving-only cost). Hash-exact:
    // parquet roundtrips the float artifacts bit-exactly, so the served
    // top-5 equals the inline pipeline and SHARES its arithmetic twin.
    "sim_ann_pq_served" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // dedicated dir: the pinned version must not re-version the
      // TRAINED halves sim_ann_ivf/sim_ann_ivfpq share (the divergent-
      // half hazard appendAdcCodes now refuses)
      val idx = ivfIndexPath(dir) + "_pqsrv"
      val version = s"$dir@${sourceFingerprint(dir, "embeddings.parquet")}"
      val (cents, cbs, codes) =
        (Similarity.loadIvfIndex(s, idx, version),
          Similarity.loadAdcIndex(s, idx, version, expectKind = Some("raw"))) match {
          case (Some(c), Some((b, k))) => (c, b, k)
          case _ =>
            val pinned = e.orderBy("vec_id").limit(16)
              .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
            val cb = Similarity.pqCodebooks(e, m = 8, ksub = 16, iters = 0)
            Similarity.saveIvfIndex(pinned, idx, version)
            Similarity.saveAdcIndex(cb, Similarity.pqBuildIndex(e, pinned, cb),
              idx, version)
            (s.read.parquet(s"$idx/centroids"),
              s.read.parquet(s"$idx/pq_codebooks"),
              s.read.parquet(s"$idx/pq_codes"))
        }
      Similarity.ivfPqAdcTopKWith(e, q, k = 5, cents, cbs, codes,
        nProbe = 4, refine = 10)
    }),

    // IVF-PQ production shape (rows-only; sim_ann_ivfpq_recall below is
    // its hash-exact proxy through the same serving code path): the SAME
    // trained on-disk centroid index sim_ann_ivf serves, the int8 codes
    // PERSIST beside it (quantization paid once per corpus version, not
    // per query batch — the 100× receipt in SCALE.md motivated this),
    // the probe scan reads codes only, and the top-10 shortlist alone
    // fetches float vectors for the exact top-5 re-rank
    "sim_ann_ivfpq" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val (cents, codes) = Similarity.trainOrLoadPqIndex(e, ivfIndexPath(dir),
        version = s"$dir@${sourceFingerprint(dir, "embeddings.parquet")}",
        nCentroids = 16, iters = 3)
      Similarity.ivfPqTopKWithCodes(e, q, k = 5, cents, codes,
        nProbe = 4, refine = 10)
    }),

    // IVF-PQ RECALL, hash-checkable: the billion-vector memory shape —
    // int8 codes ranked by ASYMMETRIC quantized cosine on the probe
    // scan (the per-vector scale cancels in the ratio), float vectors
    // fetched only for the top-10 shortlist re-rank to top-5. Same
    // pinned first-16 centroids as sim_ann_ivf_recall, so the ENTIRE
    // pipeline — assignment, probing, quantization (the sim_quantize
    // floor(x·scale+0.5) formula), approx ranking, shortlist, exact
    // re-rank — is replayed arithmetically by the DuckDB twin, and the
    // per-query |PQ top-5 ∩ brute top-5| integers must match
    // hash-exactly
    "sim_ann_ivfpq_recall" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val pq = Similarity.ivfPqTopK(e, q, k = 5, nCentroids = 16, nProbe = 4,
        refine = 10, trainIters = 0)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
      brute.select(col("q_id"), col("vec_id"))
        .join(pq.select(col("q_id"), col("vec_id"), lit(1).as("__m")),
          Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(col("__m")).as("hits"))
        .orderBy("q_id")
    }),

    // gap-based sessionization (session windows — SURVEY T6, absent in the
    // reference; native session_window, batch + streaming capable)
    "events_sessionize" -> ((s, dir) => {
      val df = Samples.fromEvents(s, dir).filter(col("time").between(F, T))
      r6(ops.Sessions.byGap(df, col("labels")("user"), col("time"),
          col("value"), gapMs = 30 * 60000L)
          .withColumnRenamed("key", "user"),
        Seq("sum_v"))
    }),

    // multimodal: opaque binary payload + typed metadata
    "multimodal_meta" -> ((s, dir) => {
      Multimodal.asBlobTable(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .select(col("doc_id"),
          col("meta.byte_len").cast("long").as("byte_len"),
          col("meta.digest").as("digest"))
        .orderBy("doc_id")
    }),

    // multimodal: partition-wise decode → fixed-dim features. The decoder
    // is REAL for image payloads (JDK javax.imageio: PNG/BMP/JPEG/GIF,
    // proven in MultimodalSpec on synthesized images); these text-byte
    // payloads take the documented byte-stride fallback (decoded=false).
    // Rows-only: per-pixel math has no reasonable SQL twin.
    "multimodal_features" -> ((s, dir) => {
      val blobs = Multimodal.asBlobTable(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      val f = Multimodal.decodeImageFeatures(blobs)
      f.select(Seq(col("doc_id"), col("decoded"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 4).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // multimodal: REAL audio decode, now over FOUR container lanes
    // (r10): WAV PCM sine, AU PCM16-BE sine, AIFF PCM16 sine, WAV µ-law
    // — every lane served by JdkPcmDecoder's LOCK-FREE pure-byte paths
    // (an AIFF/AU-heavy corpus previously resurrected the AudioSystem
    // global-lock stall SCALE.md measured). No audio column in the
    // fixtures → payloads planted deterministically (the text_redact
    // pattern); every payload must decode for real. Rows-only:
    // per-sample sine DSP has no SQL twin — the container lanes'
    // hash-exact twin is multimodal_audio_containers below.
    "multimodal_audio" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val freq = 200.0 + (id % 20) * 20.0
          def sine(n: Int): Seq[Int] = (0 until n).map(i =>
            (math.sin(2 * math.Pi * freq * i / 8000) * 12000).toInt)
          val blob = (id % 4) match {
            case 0 => Multimodal.sineWav(freq, 0.05, 8000)
            case 1 => Multimodal.auBytes(3, 8000, 1, Multimodal.pcm16be(sine(400)))
            case 2 => Multimodal.aiffBytes(8000, 1, 16, Multimodal.pcm16be(sine(400)))
            case _ =>
              val b = (id % 127).toInt
              Multimodal.g711Wav(alaw = false, 8000,
                Array.tabulate(400)(i => (if (i % 2 == 0) b else b | 0x80).toByte))
          }
          Row(id, blob)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.decodeAudioFeatures(blobs)
        .select(Seq(col("doc_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 4).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // ORACLE-EXACT container-diversity entry (r10): the four lock-free
    // containers with ALTERNATING-SIGN constant-magnitude payloads, so
    // every feature has the closed form mag/32768 (all |s| equal; zcr
    // exactly 1) and the G.711 lanes replay the CCITT expansion
    // formulas (µ-law (((u&15)<<3)+132)<<exp − 132, A-law segment
    // expansion) directly in SQL — the decode tables never appear as
    // literals, the twin derives each doc's magnitude independently
    "multimodal_audio_containers" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val blob = (id % 4) match {
            case 0 => // WAV µ-law: bytes B / B|0x80 → samples ∓(t-132)
              val b = (id % 127).toInt
              Multimodal.g711Wav(alaw = false, 8000,
                Array.tabulate(160)(i => (if (i % 2 == 0) b else b | 0x80).toByte))
            case 1 => // AU A-law: bytes A / A^0x80 → samples ±v
              val a = (id % 256).toInt
              Multimodal.auBytes(27, 8000, 1,
                Array.tabulate(160)(i => (if (i % 2 == 0) a else a ^ 0x80).toByte))
            case 2 => // AIFF PCM16 big-endian: ±v exact
              val v = (1 + (id * 997) % 15000).toInt
              Multimodal.aiffBytes(8000, 1, 16,
                Multimodal.pcm16be((0 until 160).map(i => if (i % 2 == 0) v else -v)))
            case _ => // AU PCM16 big-endian: ±v exact
              val v = (1 + (id * 613) % 12000).toInt
              Multimodal.auBytes(3, 8000, 1,
                Multimodal.pcm16be((0 until 160).map(i => if (i % 2 == 0) v else -v)))
          }
          Row(id, blob)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.decodeAudioFeatures(blobs)
        .select(Seq(col("doc_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // ORACLE-EXACT image decode: constant-color 16x16 PNGs whose color is
    // a pure function of doc_id run through the REAL javax.imageio decode
    // path; a constant image has closed-form features (mean channel =
    // c/255, stdLuma = 0, every quadrant luma = (.299r+.587g+.114b)/255)
    // which the DuckDB twin emits directly. Both twins collapse to
    // float32 BEFORE rounding so accumulation-order ulps cannot flip the
    // hash — this converts the decode path from rows-only to hash-checked
    "multimodal_features_exact" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          Row(id, Multimodal.constantPng(16, 16,
            (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt))
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.decodeImageFeatures(blobs)
        .select(Seq(col("doc_id"), col("decoded"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // IMAGE near-dup end-to-end: pattern-encoded 9x8 gray PNGs through
    // the REAL decode + dHash path, then Hamming banding — the multimodal
    // counterpart of dedup_simhash. Each doc's dHash is forced to its
    // 60-bit md5(doc_id) prefix by construction (dhashPng's ±12 gray
    // walk), docs < 40 get a planted near-dup copy with bits 0 and 2
    // flipped (hamming 2 ≤ maxDist 3, found by pigeonhole banding with
    // certainty); random md5 pairs sit ~30 bits apart, so the twin —
    // which derives the same fingerprints arithmetically and re-runs the
    // banding in SQL — checks the whole decode→hash→band→verify pipeline
    // hash-exactly
    "dedup_image_dhash" -> ((s, dir) =>
      Dedup.hammingPairs(Multimodal.decodeImageDHash(plantedDHashBlobs(s, dir)),
          "doc_id", "dhash", maxDist = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))),

    // IMAGE dedup end product: dHash pairs → connected components →
    // min-id canonical keep-list (the same closure + broadcast anti-join
    // end product as dedup_keep/sim_semdedup, over the image modality).
    // Same planted construction as dedup_image_dhash: the 40 xor-5
    // copies collapse into their sources, so the keep-list is exactly
    // the base ids — derived from scratch by the twin
    "dedup_image_keep" -> ((s, dir) => {
      val pairs = Dedup.hammingPairs(
        Multimodal.decodeImageDHash(plantedDHashBlobs(s, dir)),
        "doc_id", "dhash", maxDist = 3)
      val clusters =
        try Dedup.nearDupClusters(pairs.select("id_a", "id_b"))
        finally pairs.unpersist(blocking = false)
      // the id universe is pure arithmetic (base ids ∪ planted ids) —
      // enumerating it through the blob table would re-run every PNG
      // encode a second time just to produce the id column
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val all = ids.unionByName(ids.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000L).as("doc_id")))
      Dedup.dropNearDuplicates(all, "doc_id", clusters).orderBy("doc_id")
    }),

    // video frame sampling over the GFV1 deterministic fake codec (the
    // JDK has no video decoder — the stub discipline: fake codec, REAL
    // Spark plumbing). Every 2nd frame of a 3-to-7-frame clip per doc;
    // constant-gray frames make mean_luma the closed form
    // ((doc_id*31 + k*7) % 256) / 255 the twin emits directly
    "multimodal_frames" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          Row(id, Multimodal.gfvVideo(4, 4, (3 + id % 5).toInt,
            k => ((id * 31 + k * 7) % 256).toInt))
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.sampleFrames(blobs, everyN = 2)
        .select(col("doc_id"), col("decoded"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
        .orderBy("doc_id", "frame_idx")
    }),

    // REAL compressed video through the same operator: MJPEG-in-AVI
    // (RIFF container walk + per-frame javax.imageio JPEG decode — zero
    // new dependencies). Constant-gray frames encode as DC-only blocks
    // at JPEG quality 1.0 (all-ones quantization tables), so decode is
    // bit-exact and mean_luma keeps the closed form
    // ((doc_id*37 + k*11) % 256) / 255 the twin emits directly; every
    // 2nd frame of a 2-to-5-frame clip per doc
    "multimodal_frames_avi" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // staged once per corpus fingerprint (r10): timed rounds cold-read
      // the containers and measure DECODE, not per-run JPEG encode
      val blobs = stagedBlobs(s, dir, "avi") {
        val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
        s.createDataFrame(
          ids.rdd.map { r =>
            val id = r.getLong(0)
            Row(id, Multimodal.mjpegAviVideo(8, 8, (2 + id % 4).toInt,
              k => ((id * 37 + k * 11) % 256).toInt))
          },
          StructType(Seq(StructField("doc_id", LongType),
            StructField("blob", BinaryType))))
      }
      Multimodal.sampleFrames(blobs, everyN = 2,
          decoder = Codecs.MjpegAviDecoder)
        .select(col("doc_id"), col("decoded"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
        .orderBy("doc_id", "frame_idx")
    }),

    // ANIMATED GIF through the same operator (r9): the JDK's native GIF
    // reader behind the full-compositing Codecs.GifDecoder — the one
    // decoder here that serves REAL crawl payloads as-is. GIF is
    // palette-lossless, so constant-gray full frames keep the closed
    // form ((doc_id*41 + k*13) % 256) / 255 exactly; every 2nd frame of
    // a 2-to-4-frame clip per doc
    "multimodal_frames_gif" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      // staged once per corpus fingerprint (r10): the inline ImageIO GIF
      // ENCODE of 15k fixtures dominated this entry's timed body (7.4 s)
      // and kept the one production-usable video decoder out of the
      // headline bench — cold-reading the staged corpus retires that
      val blobs = stagedBlobs(s, dir, "gif") {
        val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
        s.createDataFrame(
          ids.rdd.map { r =>
            val id = r.getLong(0)
            Row(id, Multimodal.gifVideo(6, 6, (2 + id % 3).toInt,
              k => ((id * 41 + k * 13) % 256).toInt))
          },
          StructType(Seq(StructField("doc_id", LongType),
            StructField("blob", BinaryType))))
      }
      Multimodal.sampleFrames(blobs, everyN = 2,
          decoder = Codecs.GifDecoder)
        .select(col("doc_id"), col("decoded"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_luma"), 6).as("mean_luma"))
        .orderBy("doc_id", "frame_idx")
    }),

    // VIDEO near-dup by positional frame-signature voting, end-to-end
    // through the REAL GFV1 decode: every doc gets a 5-frame clip with
    // arithmetic per-frame fills; docs < 40 get a near-copy at +1000000
    // with frame 0 perturbed (+1), so copies match their source on 4 of
    // 5 frames (>= minVotes 3). The fill arithmetic also produces exact
    // full matches between docs 256 apart (the k-dependence cancels mod
    // 256) — the twin derives EVERY pair, planted and arithmetic alike,
    // from the same closed-form fills
    "dedup_video_frames" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      def fill(id: Long, k: Int): Int = ((id * (k + 3) * 13 + k) % 256).toInt
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.flatMap { r =>
          val id = r.getLong(0)
          val base = Row(id, Multimodal.gfvVideo(4, 4, 5, k => fill(id, k)))
          if (id < 40)
            Seq(base, Row(id + 1000000L, Multimodal.gfvVideo(4, 4, 5,
              k => if (k == 0) (fill(id, 0) + 1) % 256 else fill(id, k))))
          else Seq(base)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.videoNearDupPairs(
          Multimodal.sampleFrames(blobs, everyN = 1), minVotes = 3)
        .orderBy("id_a", "id_b")
    }),

    // PRODUCTION video near-dup: per-frame perceptual dHash + HAMMING-
    // TOLERANT positional voting (the swap-in dedup_video_frames's
    // scaladoc promised). Every doc gets a 5-frame clip whose frame
    // dHashes are FORCED to the 60-bit md5(doc_id*5+k) prefixes
    // (gfvDHashVideo walk); docs < 40 get a near-copy at +1000000 with
    // frame 0's hash xor-5-perturbed (hamming 2 <= maxDist 3 — still
    // votes, the tolerance under test) and frame 1's hash REPLACED by an
    // independent md5 (~30 bits away — never votes), so copies score
    // exactly 4 of 5 votes. The twin replays every fingerprint
    // arithmetically and re-runs the per-frame-index banding + bit_count
    // verify + vote count in SQL
    "dedup_video_dhash" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      def md5p(key: String): Long = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16)
      }
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.flatMap { r =>
          val id = r.getLong(0)
          val ps = (0 until 5).map(k => md5p((id * 5 + k).toString))
          val base = Row(id, Multimodal.gfvDHashVideo(ps))
          if (id < 40)
            Seq(base, Row(id + 1000000L, Multimodal.gfvDHashVideo(
              Seq(ps(0) ^ 5L, md5p((id * 5 + 1).toString + "x"), ps(2), ps(3), ps(4)))))
          else Seq(base)
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.videoNearDupDHash(
          Multimodal.sampleFrames(blobs, everyN = 1), minVotes = 3, maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    // ORACLE-EXACT audio decode: 0.1 s square waves at amplitude
    // 16384/32768 = 0.5 (every sample a dyadic rational — EXACT through
    // 16-bit quantization, where a sine's features drift per sample)
    // through the REAL javax.sound.sampled decode; rms/peak/mean-abs and
    // all four quarter-RMS features are exactly 0.5, and the
    // zero-crossing rate is floor((n-1)/(P/2))/(n-1) with the period P a
    // pure function of doc_id — all emitted by the DuckDB twin
    "multimodal_audio_exact" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          Row(id, Multimodal.squareWav(8 * (1 + (id % 4)).toInt, 800, 8000))
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.decodeAudioFeatures(blobs)
        .select(Seq(col("doc_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // REAL compressed audio (r9): IMA ADPCM (WAV tag 0x11, 4 bits per
    // sample — a format javax.sound.sampled CANNOT decode), decoded by
    // the from-spec Codecs.ImaAdpcmDecoder behind the orElse chain (the
    // PCM decoder passes on it, proving the mixed-column routing). The
    // per-doc block headers and nibble stream are pure functions of
    // doc_id, and the decode state machine is pure INTEGER arithmetic —
    // so the DuckDB twin replays the whole decoder in a recursive CTE
    // and the features are hash-exact (samples are dyadic rationals:
    // the double sums are order-independent-exact)
    "multimodal_audio_adpcm" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val blobs = stagedBlobs(s, dir, "adpcm") {
        val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
        s.createDataFrame(
          ids.rdd.map { r =>
            val id = r.getLong(0)
            val blocks = (0 until 2).map { b =>
              Seq(((((id * 131 + b * 17) % 2048) - 1024).toInt,
                ((id + b * 7) % 89).toInt,
                (0 until 8).map(j => ((id * 7 + b * 5 + j * 3) % 16).toInt)))
            }
            Row(id, Multimodal.imaAdpcmWav(8000, blocks))
          },
          StructType(Seq(StructField("doc_id", LongType),
            StructField("blob", BinaryType))))
      }
      Multimodal.decodeAudioFeatures(blobs,
          decoder = Codecs.ImaAdpcmDecoder.orElse(Codecs.JdkPcmDecoder))
        .select(Seq(col("doc_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // FLAC (r10): the crawl-modal LOSSLESS format through the real
    // from-spec Codecs.FlacDecoder (frame sync, CRC-8/16, Rice-coded
    // residuals — behind the orElse chain, proving mixed-column
    // routing). Each doc's stream is three 64-sample frames whose
    // contents are pure functions of doc_id: a CONSTANT subframe, a
    // VERBATIM subframe, and a FIXED order-1 subframe with Rice-coded
    // residuals in TWO partitions — so the decoded samples have the
    // closed forms the DuckDB twin emits (constant, direct formula, and
    // a window-cumsum for the order-1 recurrence), and losslessness
    // plus integer-valued samples make the feature sums order-exact
    "multimodal_audio_flac" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      import Multimodal.{FlacConstant, FlacFixed, FlacVerbatim}
      val ids = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      val blobs = s.createDataFrame(
        ids.rdd.map { r =>
          val id = r.getLong(0)
          val c = ((id * 131) % 4096 - 2048).toInt
          val verb = (0 until 64).map(k => ((id * 7 + k * 13) % 4096 - 2048).toInt)
          val w0 = ((id * 17) % 1024 - 512).toInt
          val res = (0 until 63).map(j => ((id + 3 * j) % 7 - 3).toInt)
          Row(id, Multimodal.flacBytes(8000, 16, 1, Seq(
            (0, Seq(FlacConstant(c, 64))),
            (0, Seq(FlacVerbatim(verb))),
            (0, Seq(FlacFixed(1, Seq(w0), res, riceParam = 2, partOrder = 1))))))
        },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.decodeAudioFeatures(blobs,
          decoder = Codecs.FlacDecoder.orElse(Codecs.JdkPcmDecoder))
        .select(Seq(col("doc_id"), col("decoded"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // MEDIA TRIAGE (r10) — "probe, don't decode": header-only metadata
    // over TEN container lanes, including the crawl-modal formats this
    // zero-dep container CANNOT fully decode (MP3 via an exact
    // frame-header walk, MP4 via the ISO BMFF box tree, Ogg
    // Vorbis/Opus via the page walk + identification headers,
    // Matroska/WebM via the EBML walk) — at 100 TB the pipeline
    // filters on duration/resolution/bitrate BEFORE paying decode.
    // Every probed field is a pure closed form of doc_id (frame-count
    // arithmetic, 16.16 fixed-point dims, Ogg granule math, the
    // MPEG1-L3 bitrate table as a list literal), so the twin is exact.
    "multimodal_probe" -> ((s, dir) =>
      Multimodal.probeMedia(probeFixtureBlobs(s, dir))
        .select(col("doc_id"), col("probed"), col("format"), col("codec"),
          col("duration_ms"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bitrate_kbps").cast("long").as("bitrate_kbps"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("frames"))
        .orderBy("doc_id")),

    // TRIAGE PIPELINE end-to-end (r10): probe → filter → decode the
    // survivors — the composition the probes exist for. The audio
    // lanes of the staged probe corpus are filtered by probed format +
    // duration window (a pure metadata read), only the survivors pay
    // decode, and the twin replays both the FILTER (closed-form
    // durations) and the surviving lanes' exact samples (±0.5 squares
    // for WAV, the direct PCM formula for AIFF). One broadcast-size
    // keep join — the probe output is metadata, never blob bytes.
    "multimodal_triage" -> ((s, dir) => {
      val blobs = probeFixtureBlobs(s, dir)
      val keep = Multimodal.probeMedia(blobs)
        .filter(col("probed") && col("format").isin("wav", "aiff") &&
          col("duration_ms").between(20, 45))
        .select(col("doc_id"), col("format"), col("duration_ms"))
      val features = Multimodal.decodeAudioFeatures(
        blobs.join(keep, Seq("doc_id")).select("doc_id", "blob"))
      features.join(keep, Seq("doc_id"))
        .select(Seq(col("doc_id"), col("format"), col("duration_ms"),
          col("decoded"), col("n_frames")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // ============================================================
    // Corpus selection — the FINAL pipeline stage (what ships)
    // ============================================================

    // deterministic stratified sampling: rebalance languages by keeping
    // 50% of 'en' (overrepresented in the fixture) and 25% of the rest.
    // md5-prefix hash gives identical bytes in every engine (oracle-exact)
    // and makes the sample a stable doc-id property — reproducible across
    // runs, cluster sizes and partitionings, which df.sample() is not
    "corpus_sample" -> ((s, dir) =>
      Corpus.stratifiedSample(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang", Map("en" -> 0.5), defaultRate = 0.25)
        .select("doc_id", "lang").orderBy("doc_id")),

    // deterministic 80/10/10 train/val/test assignment: contiguous
    // md5-prefix bands (cumulative thresholds 0xcccd, 0xe666 — the same
    // hash as corpus_sample), so a doc's split is a stable id property —
    // growing the corpus never migrates an existing doc across splits,
    // unlike randomSplit. Last split takes the remainder band
    "corpus_split" -> ((s, dir) =>
      Corpus.assignSplits(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // per-source calibrated quality gate: drop each source's bottom 20%
    // by quality_score — thresholds from one per-source percentile
    // aggregate broadcast back, then a scan-speed filter (no sort/window)
    "corpus_quality_gate" -> ((s, dir) => {
      val scored = spreadSmallScan(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.tokens(col("text")).as("__w"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"))
        .select(col("doc_id"), col("source"), col("text"), col("__w"),
          TextAnalysis.stopwordCounts(s, col("__wl")).as("__sc"))
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")).last)
      Corpus.quantileGate(scored,
          round(col("quality_score") * 1e6).cast("long"), "source",
          dropFrac = 0.2)
        .select("doc_id", "source", "quality_score").orderBy("doc_id")
    }),

    // deterministic training-order shuffle: seed-keyed md5 shard + rank
    // within shard only (partitioned window — no corpus-wide sort)
    "corpus_shuffle" -> ((s, dir) =>
      Corpus.shuffleAssign(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", seed = 42L, nShards = 8)
        .orderBy("doc_id")),

    // LEAKAGE-SAFE split assignment: same 80/10/10 bands, but keyed on the
    // near-dup cluster canonical id where one exists — every member of a
    // cluster lands in the same split, so a test doc can never have a
    // train near-twin (the eval contamination id-keyed splits cannot see)
    "corpus_split_safe" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Corpus.assignSplitsLeakageSafe(docs.select("doc_id"), "doc_id", "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), docClusters(docs))
        .select("doc_id", "split").orderBy("doc_id")
    }),

    // per-source profiling: the volume/length receipts a curation run is
    // judged by (exact quantiles — DuckDB quantile_cont matches
    // percentile's interpolation on integer inputs)
    "corpus_stats" -> ((s, dir) =>
      Corpus.sourceStats(s.read.parquet(s"$dir/documents.parquet"),
        "source", "text")),

    // multi-dimensional corpus receipts via native cube() (SURVEY §2 A9 —
    // Spark's Expand-based grouping sets, one pass over the corpus for
    // all 4 (lang, source) rollup combinations; the reference has no
    // grouping-sets analog). grouping() flags disambiguate rolled-up
    // NULLs from genuine ones, identically in DuckDB's GROUP BY CUBE
    "corpus_cube" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("__chars"))
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("__chars")).as("total_chars"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
        .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))),

    // weighted multi-source mixture sampling: target composition 1:2:4
    // over the 20 fixture sources (weight = 2^(idx%3)); binding sources
    // keep 100%, the rest downsample via the same deterministic
    // md5-prefix hash as corpus_sample. Weights are powers of two, so
    // the derived per-source rates are exact dyadic doubles and the
    // twin's in-SQL threshold derivation (same IEEE expression, same
    // %04x formatting) is bit-identical
    "corpus_mix" -> ((s, dir) => {
      val weights = (0 until 20).map(i => s"src$i" -> math.pow(2.0, i % 3)).toMap
      Corpus.mixSources(s.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "source", weights)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // DoReMi domain reweighting (r8 — Xie et al. 2023, the one-step
    // multiplicative-weights form): planted per-domain excess losses
    // (a closed-form function of the source index) → exponential
    // temperature-0.5 weights → the mixSources composition. The twin
    // recomputes exp-weights and the full rate arithmetic in SQL — a
    // hash match proves the weight math AND the deterministic sampler
    "corpus_doremi" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val losses = docs.select(col("source")).distinct()
        .withColumn("excess_loss",
          (expr("CAST(substr(source, 4, 8) AS INT)") % 5).cast("double") * lit(0.2))
      Corpus.doremiMix(docs, "doc_id", "source", losses, "excess_loss",
          temperature = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    // JSONL corpus round-trip with corrupt-line quarantine (the
    // training-data source format): documents serialize to JSONL with two
    // planted broken lines, read back under an explicit schema via the
    // text + from_json path. Output binds CONTENT (md5 of each
    // round-tripped text) plus a -1 receipts row carrying the quarantine
    // count — the twin derives both from the parquet table directly
    "corpus_jsonl" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "lang", "source")
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      docs.toJSON
        .union(Seq("{broken json", "\"not\" an object").toDS())
        .coalesce(1).write.mode("overwrite").text(s"$tmp/data")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType)))
      try {
        val (good, bad) = graft.ingest.JsonlSource.readSplit(s, s"$tmp/data", schema)
        val res = good.select(col("doc_id"),
            md5(col("text").cast("binary")).as("receipt"))
          .unionByName(bad.agg(count(lit(1)).cast("string").as("receipt"))
            .select(lit(-1L).as("doc_id"), col("receipt")))
          .orderBy("doc_id")
        // detach from the temp files before they are removed
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(new java.io.File(tmp))
    }),

    // WARC corpus source (r10 cont. — where a 100 TB pipeline STARTS):
    // the staged Common-Crawl-shaped segments (two plain .warc, two
    // .warc.gz with one gzip member per record) stream through the
    // constant-memory record iterator — warcinfo and request records
    // parse and are FILTERED by type, response records surface their
    // HTTP status/Content-Type and body. Output binds the full decode
    // chain (uri → doc_id, status, HTTP header, exact UTF-8 body); the
    // twin rebuilds the planted HTML wrapper from the documents table
    "corpus_warc" -> ((s, dir) => {
      val warc = graft.ingest.WarcSource.read(s, stagedWarcDir(s, dir) + "/*.warc*")
      graft.ingest.WarcSource.responses(warc)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("http_status").cast("long").as("status"),
          col("http_content_type").as("ctype"),
          col("payload").cast("string").as("html"))
        .orderBy("doc_id")
    }),

    // CHARSET-AWARE payload text (r10 cont.): the same decoded string
    // arrives over FOUR wire encodings — UTF-8, ISO-8859-1, quoted
    // mixed-case windows-1252, and a charset-less default — and
    // payloadText normalizes all of them into ONE text column (per-row
    // charset resolved through a per-partition cache, never a JDK
    // registry lookup per row — the measured hazard class). The twin's
    // closed form is the decoded string itself plus the canonical
    // charset name by lane: a hash match proves the decode is
    // label-driven, not a blanket UTF-8 cast.
    "corpus_warc_text" -> ((s, dir) => {
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").orderBy("doc_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_text")
      try {
        import graft.ingest.WarcSource
        val out = new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(s"$tmp/seg.warc"), 1 << 16)
        val it = ids.toLocalIterator()
        while (it.hasNext) {
          val id = it.next().getLong(0)
          val text = s"döc $id: æøå ñ ü é"
          // lanes 0-3: header-labeled (+ the unlabeled UTF-8 fallback);
          // lanes 4-7 (r12): the WHATWG sniff steps the header can't
          // decide — meta charset, meta http-equiv, header-beats-meta,
          // and a UTF-8 BOM (stripped from the text)
          val metaWin = "<html><head><meta charset=\"windows-1252\">" +
            s"</head><body>$text</body></html>"
          val metaIso = "<html><head><meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=ISO-8859-1\">" +
            s"</head><body>$text</body></html>"
          val (body, ct) = (id % 8) match {
            case 0 => (text.getBytes("UTF-8"), "text/plain; charset=utf-8")
            case 1 => (text.getBytes("ISO-8859-1"), "text/plain; charset=ISO-8859-1")
            case 2 => (text.getBytes("windows-1252"), "text/plain; Charset=\"windows-1252\"")
            case 3 => (text.getBytes("UTF-8"), "text/plain")
            case 4 => (metaWin.getBytes("windows-1252"), "text/html")
            case 5 => (metaIso.getBytes("ISO-8859-1"), "text/html")
            case 6 => (metaWin.getBytes("UTF-8"), "text/html; charset=utf-8")
            case _ => (Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
              text.getBytes("UTF-8"), "text/html")
          }
          WarcSource.writeRecord(out, "response",
            Seq("WARC-Target-URI" -> s"https://corpus.example/doc/$id",
              "Content-Type" -> "application/http; msgtype=response"),
            WarcSource.httpResponseBlock(200, ct, body))
        }
        out.close()
        val res = WarcSource.payloadText(
            WarcSource.responses(WarcSource.read(s, s"$tmp/seg.warc")))
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
              .cast("long").as("doc_id"),
            col("text"), col("charset"))
          .orderBy("doc_id")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // CRAWL PIPELINE end-to-end (r10 cont. — the composition the WARC
    // source exists for): staged Common-Crawl-shaped segments → HTTP
    // response extraction → charset-aware text decode → HTML→text
    // strip → whitespace token count → keep docs passing the length
    // gate. The twin replays EVERY stage in SQL: the closed-form HTML
    // wrapper, the full 11-regexp strip chain (the text_strip_html
    // replay — document text may itself contain markup), the token
    // count, and the gate. One hash pins the whole ingest→curation
    // path.
    "corpus_crawl_pipeline" -> ((s, dir) => {
      val resp = graft.ingest.WarcSource.responses(
        graft.ingest.WarcSource.read(s, stagedWarcDir(s, dir) + "/*.warc*"))
      val txt = graft.ingest.WarcSource.payloadText(resp)
      val clean = txt.select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        graft.ops.TextAnalysis.stripHtml(col("text")).as("clean"))
      clean.select(col("doc_id"),
          when(col("clean") === "", lit(0L))
            .otherwise(size(split(col("clean"), " ")).cast("long"))
            .as("n_tokens"),
          md5(col("clean").cast("binary")).as("receipt"))
        .filter(col("n_tokens") >= 5)
        .orderBy("doc_id")
    }),

    // PDF text extraction (r11): the crawl-modal document format —
    // staged corpus covering classic + xref-stream layouts, Flate and
    // plain content streams, encrypted and non-PDF lanes. One row per
    // page for extractable docs (the downstream text pipeline's
    // granularity), one quarantine row otherwise; the twin replays the
    // closed-form page texts and both flag lanes in SQL, so the hash
    // pins xref walk + inflate + content-stream tokenization + the
    // documented text-op rules end to end.
    "corpus_pdf_text" -> ((s, dir) =>
      graft.ops.Pdf.pdfText(pdfFixtureBlobs(s, dir))
        .select(col("doc_id"), col("ok"),
          col("n_pages").cast("long").as("n_pages"),
          col("page").cast("long").as("page"),
          col("text"), col("flagged"), col("reason"))
        .orderBy("doc_id", "page")),

    // PDF standard security handler (r12; AES-256 r13): the
    // crawl-realistic owner-restrictions-only class — RC4-128
    // (/V 2 /R 3), AES-128 (/V 4 /R 4 /AESV2) and AES-256
    // (/V 5 /R 6 /AESV3, ISO 32000-2 §7.6.4 Algorithm 2.B) documents
    // with an EMPTY user password decrypt transparently and extract
    // (zero-dep via JDK MD5/SHA-2 + javax.crypto);
    // genuinely password-protected documents stay quarantined. The twin
    // replays the closed-form page texts for the decryptable lanes and
    // the flag lane, so the hash pins key derivation + per-object keys +
    // both ciphers end to end.
    "corpus_pdf_encrypted" -> ((s, dir) =>
      graft.ops.Pdf.pdfText(pdfEncryptedBlobs(s, dir))
        .select(col("doc_id"), col("ok"),
          col("n_pages").cast("long").as("n_pages"),
          col("page").cast("long").as("page"),
          col("text"), col("flagged"), col("reason"))
        .orderBy("doc_id", "page")),

    // CRAWL→PDF→TEXT end-to-end (r11): the composition the PDF family
    // exists for — WARC segments deliver application/pdf response
    // bodies (same lanes as the blob corpus: encrypted, garbage, both
    // xref layouts), the pipeline extracts page text and counts tokens,
    // quarantine rows flow through TYPED (ok=false + reason), and the
    // twin replays page/token arithmetic and both flag lanes. One hash
    // pins WARC parse → HTTP extraction → xref walk → inflate →
    // text ops → tokenization.
    "corpus_pdf_pipeline" -> ((s, dir) => {
      import graft.ingest.WarcSource
      val resp = WarcSource.responses(
          WarcSource.read(s, stagedPdfWarcDir(s, dir) + "/*.warc*"))
        .filter(col("http_content_type") === "application/pdf")
        .select(regexp_extract(col("target_uri"), "/pdf/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("payload").as("blob"))
      graft.ops.Pdf.pdfText(resp)
        .select(col("doc_id"), col("ok"),
          col("n_pages").cast("long").as("n_pages"),
          col("page").cast("long").as("page"),
          when(col("ok"), size(split(col("text"), "\\s+")).cast("long"))
            .as("n_tokens"),
          col("flagged"), col("reason"))
        .orderBy("doc_id", "page")
    }),

    // CID/ToUnicode extraction (r11): every document rendered through a
    // Type0 Identity-H font whose ToUnicode CMap maps the 2-byte codes
    // — the modern PDF generator's layout, where text recovery flows
    // through the CMap instead of a byte encoding. The page text is a
    // closed form of doc_id, so the hash pins CMap parse (bfchar
    // sections incl. >100-entry chunking on long ids) + 2-byte code
    // decode end to end.
    "corpus_pdf_cid" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val blobs = s.createDataFrame(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id")
          .rdd.map { r =>
            val id = r.getLong(0)
            Row(id, graft.ops.Pdf.pdfBytesCid(s"cid document $id has mapped text"))
          },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      graft.ops.Pdf.pdfText(blobs)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // PDF probe lane (r11): the same staged corpus through the FULL
    // MediaProbe.Default chain — version + page count + MediaBox dims
    // + encrypted flag from the xref/catalog walk alone (no content
    // stream is ever inflated on this path; triage cost is the index,
    // not the document).
    "multimodal_probe_pdf" -> ((s, dir) =>
      Multimodal.probeMedia(pdfFixtureBlobs(s, dir))
        .select(col("doc_id"), col("probed"), col("format"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("frames"))
        .orderBy("doc_id")),

    // IMAGE probe lanes (r11): the crawl-modal image formats — JPEG
    // marker walk to SOFn, PNG IHDR + APNG acTL chunk walk, all three
    // WebP bitstream variants (hand-built container — no JDK encoder),
    // BMP header — all through the full Default chain. Dims and frame
    // counts are closed forms of doc_id; the JPEG/PNG/BMP fixtures are
    // real JDK-encoded images, so the hash also pins that the probes
    // parse what actual encoders emit.
    "multimodal_probe_images" -> ((s, dir) =>
      Multimodal.probeMedia(imageProbeFixtureBlobs(s, dir))
        .select(col("doc_id"), col("probed"), col("format"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("frames"))
        .orderBy("doc_id")),

    // IMAGE TRIAGE end-to-end (r11): probe → metadata filter (lossless
    // formats in a dims window — the decision a 100 TB pipeline makes
    // from headers alone) → decode ONLY the survivors. The twin replays
    // the filter arithmetic and the survivors\u0027 exact constant-image
    // features (PNG/BMP are lossless, so the planted channel constants
    // come back bit-for-bit through the REAL decoder).
    "multimodal_triage_images" -> ((s, dir) => {
      val blobs = imageProbeFixtureBlobs(s, dir)
      val keep = Multimodal.probeMedia(blobs)
        .filter(col("probed") && col("format").isin("png", "bmp") &&
          col("width").between(20, 40))
        .select(col("doc_id"), col("format"))
      Multimodal.decodeImageFeatures(
          blobs.join(keep, Seq("doc_id")).select("doc_id", "blob"))
        .join(keep, Seq("doc_id"))
        .select(Seq(col("doc_id"), col("format"), col("decoded"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height")) ++
          (0 until Multimodal.FeatureDim).map(i =>
            round(element_at(col("feature"), i + 1).cast("double"), 6).as(s"f$i")): _*)
        .orderBy("doc_id")
    }),

    // COMPRESSED-PAYLOAD probes (r11): .gz/.zst/.xz/.bz2 — the non-media
    // blobs a crawl meets constantly. `frames` carries the declared
    // uncompressed size where the format states one (gzip trailer
    // ISIZE on single-member files — the fixture's STORED deflate
    // blocks make the member scan deterministic; zstd FCS across its
    // field widths incl. the 2-byte size-minus-256 encoding); codec
    // carries flag-level detail (xz check type, bzip2 level).
    "multimodal_probe_archives" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val blobs = s.createDataFrame(
        s.read.parquet(s"$dir/documents.parquet").select("doc_id")
          .rdd.map { r =>
            val id = r.getLong(0)
            val blob = (id % 4) match {
              case 0 => Multimodal.gzipStoredBytes(
                // pure-x content: a "doc <id>" prefix could exceed the
                // target length for large ids and skew the ISIZE
                Array.fill((10 + id % 90).toInt)('x'.toByte),
                named = id % 3 == 0)
              case 1 => (id / 4 % 3) match {
                case 0 => Multimodal.zstdFrameBytes(id % 200, 0, singleSegment = true)
                case 1 => Multimodal.zstdFrameBytes(256 + id % 500, 1,
                  singleSegment = false, checksum = true)
                case _ => Multimodal.zstdFrameBytes(100000 + id, 2,
                  singleSegment = false)
              }
              case 2 => Multimodal.xzHeaderBytes(
                Seq(0, 1, 4)((id % 3).toInt))
              case _ => Multimodal.bzip2HeaderBytes((1 + id % 9).toInt)
            }
            Row(id, blob)
          },
        StructType(Seq(StructField("doc_id", LongType),
          StructField("blob", BinaryType))))
      Multimodal.probeMedia(blobs)
        .select(col("doc_id"), col("probed"), col("format"), col("codec"),
          col("frames"))
        .orderBy("doc_id")
    }),

    // corpus snapshot diff (crawl-refresh receipts): new version = old
    // with ids % 10 == 7 edited, ids >= 450 dropped, and 20 fresh docs
    // appended at +10000 — the per-doc added/removed/changed/unchanged
    // report, derived identically in the twin
    "corpus_diff" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val newV = docs.filter(col("doc_id") < 450)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 7, concat(col("text"), lit(" edited v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Corpus.snapshotDiff(docs, newV, "doc_id", "text").orderBy("doc_id")
    }),

    // epoch-based source upsampling (the "books x3.25" side of a data
    // recipe): floor epochs replicate every doc, the fractional epoch is
    // a deterministic md5 hash band. Epoch targets are dyadic
    // (0.5/1.25/2.0/2.75 by source index mod 4) so frac*65536 is an
    // exact integer and the twin hardcodes the same 4-hex thresholds
    "corpus_epochs" -> ((s, dir) => {
      val epochs = (0 until 20).map(i => s"src$i" -> (0.5 + (i % 4) * 0.75)).toMap
      Corpus.upsampleEpochs(
          s.read.parquet(s"$dir/documents.parquet").select("doc_id", "source"),
          "doc_id", "source", epochs)
        .orderBy("doc_id", "epoch")
    }),

    // corpus-level exact line dedup (CCNet-style boilerplate removal):
    // planted 5-variant nav header (~n/5 docs each) and a universal
    // footer cross the minDocs=20 threshold and drop from every doc;
    // the 97-variant section line (~n/97 docs at sf0.01) and the unique
    // body line stay. Same planted construction in the DuckDB twin
    "text_dedup_lines" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("nav menu "), (col("doc_id") % 5).cast("string"), lit("\n"),
          lit("section "), (col("doc_id") % 97).cast("string"), lit("\n"),
          col("text"), lit("\n"),
          lit("copyright footer")).as("text"))
      Dedup.dedupLines(planted, "doc_id", "text", minDocs = 20)
    }),

    // token-budget shard packing (concat-and-chunk corpus layout) via the
    // distributed two-level prefix sum — NOT a global single-task window.
    // numBlocks=16 forces MANY blocks on the fixture, proving the
    // block-offset join; production default is 1024
    "corpus_pack" -> ((s, dir) =>
      Corpus.packShards(s.read.parquet(s"$dir/documents.parquet"), "doc_id",
        size(TextAnalysis.tokens(col("text"))), budget = 2048, numBlocks = 16)),

    // the shard layout MATERIALIZED: packShards' assignment written as a
    // parquet tree partitioned by shard (one directory per training
    // shard — the physical layout a dataloader consumes), read back, and
    // receipted per shard. A hash match proves the partitioned write
    // round-trips the assignment losslessly; the twin aggregates the
    // same prefix-sum layout directly
    "corpus_shards_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_shards")
      try {
        Corpus.packShards(s.read.parquet(s"$dir/documents.parquet"),
            "doc_id", size(TextAnalysis.tokens(col("text"))),
            budget = 2048, numBlocks = 16)
          .write.partitionBy("shard_id").parquet(s"$tmp/shards")
        val res = s.read.parquet(s"$tmp/shards")
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("shard_tokens"),
            min("stream_offset").as("first_offset"))
          .select(col("shard_id").cast("long").as("shard_id"),
            col("n_docs"), col("shard_tokens"), col("first_offset"))
          .orderBy("shard_id")
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally rmTree(tmp.toFile)
    }),

    // WFQ training-order interleaving: per-source rates (1 + n%3) →
    // stride-scheduling virtual times; reading ordered by (vt, source,
    // src_rank) interleaves sources at their rates with no runs. The
    // twin replays rank + one exact IEEE division per row
    "corpus_interleave" -> ((s, dir) => {
      val weights = (0 until 20).map(n => s"src$n" -> (1.0 + n % 3)).toMap
      Corpus.interleaveByWeight(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "source", weights).orderBy("doc_id")
    }),

    // curriculum selection: top-3 docs per (lang, source) by quality
    // score — WindowGroupLimit keeps k rows per group map-side before the
    // shuffle, the shape that survives million-member groups
    "corpus_topk" -> ((s, dir) => {
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          TextAnalysis.tokens(col("text")).as("__w"),
          TextAnalysis.tokens(lower(col("text"))).as("__wl"))
        .select(col("doc_id"), col("lang"), col("source"), col("text"), col("__w"),
          TextAnalysis.stopwordCounts(s, col("__wl")).as("__sc"))
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")).last)
      Corpus.topKPerGroup(scored, Seq("lang", "source"), "quality_score", "doc_id", 3)
        .select("lang", "source", "doc_id", "quality_score", "rank")
    }),

    // fixed-size token chunking with overlap — how documents become
    // training sequences (context-window packing / retrieval indexing):
    // 64-token chunks starting every 48 tokens. Shuffle-free
    "corpus_chunk" -> ((s, dir) =>
      ops.Corpus.chunkByTokens(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16)),

    // END-TO-END training-data layout: documents → overlapping token
    // chunks → token-budget shards, the full "docs to training
    // sequences" flow (chunkByTokens ∘ packShards). Each chunk gets the
    // unique key doc_id*100000 + chunk_id (chunk_id < ~len/48 ≪ 100000),
    // so key order = (doc, chunk) order — the natural corpus layout —
    // and the distributed prefix sum assigns stream offsets and shards
    // without any global single-task window
    // BPE-token chunking through planted fixtures with closed-form
    // output: a doc of `a` " the" repeats is exactly `a` BPE tokens
    // under the default table (validated in the Bpe specs), so every
    // chunk's text (repeat of " the"), token count, and the
    // tail-suppression rule are arithmetic in the twin — hash-exact
    // proof of the real-BPE chunk composition
    "corpus_chunk_bpe_exact" -> ((s, dir) => {
      val fix = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          repeat(lit(" the"), (col("doc_id") % 7 + 1).cast("int")).as("text"))
      Corpus.chunkByBpe(fix, "doc_id", "text", chunkTokens = 3, overlapTokens = 1)
        .orderBy("doc_id", "chunk_id")
    }),

    "corpus_chunk_pack" -> ((s, dir) => {
      val chunks = ops.Corpus.chunkByTokens(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)
      Corpus.packShards(
          chunks.select((col("doc_id") * 100000L + col("chunk_id")).as("chunk_key"),
            col("n_tokens")),
          "chunk_key", col("n_tokens"), budget = 256, numBlocks = 16)
        .select(col("doc_id").as("chunk_key"), col("n_tokens"),
          col("stream_offset"), col("shard_id"))
    }),

    // corpus vocabulary: top-500 terms by total frequency among terms in
    // >= 2 docs — the tokenizer-training / vocab-pruning step. Global
    // top-V lowers to TakeOrderedAndProject (no single-partition stage)
    "text_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", minDf = 2, topV = 500)),

    // STREAMING curation in its batch mode — the same operator
    // CorpusStreamingSpec drives on a MemoryStream (watermarked
    // fingerprint dedup + stateless quality/language gate), applied to
    // the batch frame where its keep rule is the deterministic
    // (event time, doc_id)-minimum per fingerprint. Event time is
    // planted as a NON-monotone function of doc_id so the keep rule is
    // genuinely exercised, not equivalent to doc_id order
    // (r15: no spreadSmallScan — measured +0.5 s: the fp-dedup window
    // already reshuffles the text by fingerprint immediately, so the
    // spread exchange is a second full-text shuffle with no compute
    // stage of its own to parallelize.)
    "corpus_curate_stream" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("__et",
          timestamp_millis((col("doc_id") * 37 % 1000) * 1000))
      ops.Corpus.streamingCurate(docs, "doc_id", "text", "__et",
          "10 minutes", minQuality = 0.4)
        .select(col("doc_id"), col("fp"), col("pred_lang"), col("quality_score"))
        .orderBy("doc_id")
    }),

    // END-TO-END curation — the composition a real pipeline ships:
    // language-ID + quality gate, then near-dup drop (LSH pairs →
    // connected components → canonical keep). Every stage is the same
    // oracle-exact operator benched individually above
    "corpus_curate" -> ((s, dir) => curatedDocs(s, dir).orderBy("doc_id")),

    // the FULL pipeline in one entry — quality/langid gate ∘ LSH near-dup
    // drop (curatedDocs — the same definition corpus_curate verifies) ∘
    // deterministic split assignment ∘ per-split receipts. Receipts are
    // integer-exact (count/min/max/sum) plus an order-independent XOR of
    // per-doc md5-derived fingerprints — a genuine membership bind (two
    // different id sets can share count/min/max/sum, but not the
    // fingerprint XOR short of an md5-prefix collision chain)
    "corpus_pipeline" -> ((s, dir) =>
      Corpus.assignSplits(curatedDocs(s, dir), "doc_id", "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .withColumn("__fp", conv(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(col("doc_id")).as("sum_id"),
          bit_xor(col("__fp")).as("xor_fp"))
        .orderBy("split"))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    // sim_ann_pq_served computes the IDENTICAL pinned arithmetic through
    // the persisted ADC index (parquet roundtrips the float artifacts
    // bit-exactly), so one arithmetic twin serves both entries — a
    // divergence between them means the index lifecycle corrupted the
    // artifacts, which is exactly what the shared twin would catch
    oracleSqlBase +
      ("sim_ann_pq_served" -> oracleSqlBase("sim_ann_pq")) +
      // the SQL CHANGES surface must produce the IDENTICAL feed as the
      // programmatic changes() — same staged mutations, same twin
      ("tsdb_changes_sql" -> oracleSqlBase("tsdb_changes")) +
      // HISTORY after 3 staged mutations: rank-normalized closed form
      // (absolute seqs are wall-clock; the entry requires pin the
      // floor/horizon invariants on the raw values)
      ("tsdb_history_sql" ->
        """SELECT * FROM (VALUES
          |  ('commit', CAST(1 AS BIGINT)), ('commit', CAST(2 AS BIGINT)),
          |  ('commit', CAST(3 AS BIGINT)), ('floor', CAST(0 AS BIGINT)),
          |  ('horizon', CAST(0 AS BIGINT))) AS t(kind, ord)
          |ORDER BY kind, ord""".stripMargin)

  // lazy: the twin CTE vals this map interpolates are defined BELOW it
  // in the object body — a strict val would capture them as null at
  // object-init time
  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "tsdb_raw" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, tt AS t, v, CAST(NULL AS VARCHAR) AS vstr
         |FROM s
         |WHERE name = 'click' AND labels_str = 'user=7' AND tt BETWEEN $F AND $T
         |ORDER BY name, labels_str, t""".stripMargin,

    "tsdb_dsv2_read" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, tt AS t, v, CAST(NULL AS VARCHAR) AS vstr
         |FROM s
         |WHERE name = 'click' AND labels_str = 'user=7' AND tt BETWEEN $F AND $T
         |ORDER BY name, labels_str, t""".stripMargin,

    "tsdb_dsv2_mor" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (
         |  SELECT name,
         |    CASE WHEN name = 'click' AND tt BETWEEN $F AND ${F + 5 * Day - 1}
         |         THEN v + 100 ELSE v END AS v
         |  FROM s
         |  WHERE NOT (name = 'purchase'
         |             AND tt BETWEEN ${F + 10 * Day} AND ${F + 15 * Day - 1})
         |)
         |SELECT name, count(*) AS cnt, round(sum(v), 4) AS sum_v
         |FROM m GROUP BY name ORDER BY name""".stripMargin,

    "tsdb_dsv2_write" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT labels_str, count(*) AS cnt, round(sum(v), 4) AS sum_v
         |FROM s WHERE name = 'view'
         |GROUP BY labels_str ORDER BY labels_str""".stripMargin,

    // the stored table carries no string samples: count over the
    // all-null valueStr chunks is the footer NULL-count lane
    "tsdb_dsv2_agg" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT count(*) AS cnt, CAST(0 AS BIGINT) AS cnt_vstr,
         |  min(tt) AS min_t, max(tt) AS max_t,
         |  min(name) AS min_name, max(name) AS max_name,
         |  min(v) AS min_v, max(v) AS max_v
         |FROM s""".stripMargin,

    "tsdb_names" ->
      "SELECT DISTINCT event_type AS name FROM events ORDER BY name",

    "tsdb_label_values" ->
      "SELECT DISTINCT CAST(user_id AS VARCHAR) AS value FROM events ORDER BY value",

    "tsdb_label_sets" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT DISTINCT name, labels_str FROM s ORDER BY name, labels_str""".stripMargin,

    "tsdb_count_all" ->
      "SELECT count(*) AS cnt FROM events",

    "tsdb_client_agg" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(sum(v*v), 6) AS sqr,
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max",
         |  round(max_by(v, tt), 6) AS "last",
         |  round(sum(v) / count(v), 6) AS avg,
         |  round(CASE WHEN count(v) > 1 THEN
         |    sqrt((count(v)*sum(v*v) - sum(v)*sum(v)) / (count(v)*(count(v)-1.0))) END, 6) AS stddev,
         |  round(CASE WHEN count(v) > 1 THEN
         |    (count(v)*sum(v*v) - sum(v)*sum(v)) / (count(v)*(count(v)-1.0)) END, 6) AS stdvar
         |FROM s
         |WHERE name = 'click' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_rate" ->
      s"""WITH s AS ($SamplesCte),
         |b AS (
         |  SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |         max_by(v, tt) AS lastv
         |  FROM s WHERE name = 'error' AND tt BETWEEN $F AND $T
         |  GROUP BY 1, 2, 3)
         |SELECT name, labels_str, t,
         |  round(CASE WHEN lag(t) OVER w = t - $Day THEN
         |    (lastv - lag(lastv) OVER w) / ${Day / 1000}.0 END, 6) AS rate
         |FROM b WINDOW w AS (PARTITION BY name, labels_str ORDER BY t)
         |ORDER BY name, labels_str, t""".stripMargin,

    "tsdb_groupby_label" ->
      s"""WITH s AS (SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |                  epoch_ns(ts) // 1000000 AS tt, value AS v FROM events)
         |SELECT name, "user", $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(max(v), 6) AS "max"
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_cross_agg" ->
      s"""WITH s AS ($SamplesCte),
         |src AS (SELECT * FROM s WHERE name = 'purchase' AND tt BETWEEN $F AND $T),
         |keys AS (SELECT DISTINCT name, labels_str FROM src),
         |grid AS (SELECT name, labels_str, UNNEST(generate_series($F, $T, $Day)) AS tc FROM keys),
         |u AS (
         |  SELECT name, labels_str, tc, CAST(NULL AS DOUBLE) AS pv, 0 AS isp FROM grid
         |  UNION ALL
         |  SELECT name, labels_str, tt AS tc, v AS pv, 1 AS isp FROM src),
         |nb AS (
         |  SELECT *,
         |    first_value(CASE WHEN isp = 1 THEN struct_pack(t := tc, v := pv) END IGNORE NULLS)
         |      OVER (PARTITION BY name, labels_str ORDER BY tc, isp
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
         |  FROM u),
         |res AS (
         |  SELECT name, labels_str, tc AS t,
         |         CASE WHEN nxt.t - tc <= ${2 * Day} THEN nxt.v END AS rv
         |  FROM nb WHERE isp = 0 AND nxt.t IS NOT NULL),
         |def AS (SELECT * FROM res WHERE rv IS NOT NULL)
         |SELECT name, t,
         |  CAST(count(rv) AS DOUBLE) AS "count",
         |  round(sum(rv), 6) AS "sum",
         |  round(sum(rv) / count(rv), 6) AS avg
         |FROM def GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tsdb_sliding_window" ->
      s"""WITH s AS ($SamplesCte),
         |src AS (SELECT * FROM s WHERE name = 'signup'
         |        AND tt BETWEEN ${F - 3 * Day} AND $T),
         |e AS (
         |  SELECT name, labels_str, v,
         |         UNNEST(generate_series(
         |           greatest(CAST(ceil((tt - $F) / $Day.0) AS BIGINT), 0),
         |           least((tt + ${3 * Day} - $F) // $Day, ${(T - F) / Day}))) AS k
         |  FROM src)
         |SELECT name, labels_str, $F + k * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(sum(v) / count(v), 6) AS avg
         |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_overlap_windows" ->
      s"""WITH s AS ($SamplesCte),
         |src AS (SELECT * FROM s WHERE name = 'error'),
         |e AS (
         |  SELECT src.*, w.win FROM src, (VALUES (1), (7), (30)) w(win)
         |  WHERE tt < $T AND tt > $T - CAST(win AS BIGINT) * $Day)
         |SELECT name, labels_str, win, $T - CAST(win AS BIGINT) * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM e GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_downsample" ->
      s"""WITH s AS ($SamplesCte),
         |src AS (SELECT * FROM s WHERE name = 'view' AND tt BETWEEN $F AND $T),
         |keys AS (SELECT DISTINCT name, labels_str FROM src),
         |grid AS (SELECT name, labels_str, UNNEST(generate_series($F, $T, ${6 * Hour})) AS tc FROM keys),
         |u AS (
         |  SELECT name, labels_str, tc, CAST(NULL AS DOUBLE) AS pv, 0 AS isp FROM grid
         |  UNION ALL
         |  SELECT name, labels_str, tt AS tc, v AS pv, 1 AS isp FROM src),
         |nb AS (
         |  SELECT *,
         |    first_value(CASE WHEN isp = 1 THEN struct_pack(t := tc, v := pv) END IGNORE NULLS)
         |      OVER (PARTITION BY name, labels_str ORDER BY tc, isp
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
         |  FROM u)
         |SELECT name, labels_str, tc AS t,
         |       round(CASE WHEN nxt.t - tc <= ${12 * Hour} THEN nxt.v END, 6) AS v
         |FROM nb
         |WHERE isp = 0 AND nxt.t IS NOT NULL
         |  AND (CASE WHEN nxt.t - tc <= ${12 * Hour} THEN nxt.v END) IS NOT NULL
         |ORDER BY name, labels_str, t""".stripMargin,

    "tsdb_server_agg" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max",
         |  round(max_by(v, tt), 6) AS "last",
         |  round(sum(v) / count(v), 6) AS avg
         |FROM s WHERE name = 'view' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_variant_last" ->
      s"""WITH s AS (SELECT 'props' AS name,
         |                  'user=' || CAST(user_id AS VARCHAR) AS labels_str,
         |                  epoch_ns(ts) // 1000000 AS tt, props AS vs FROM events)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |       max_by(vs, tt) AS last_str
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_seriesset" ->
      s"""WITH s AS ($SamplesCte),
         |b AS (
         |  SELECT name, labels_str, $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |         CAST(count(v) AS DOUBLE) AS cnt, round(sum(v), 6) AS sm
         |  FROM s WHERE name = 'click' AND tt BETWEEN $F AND $T
         |  GROUP BY 1, 2, 3)
         |SELECT name, labels_str, 'count' AS aggregate, t, cnt AS v FROM b
         |UNION ALL
         |SELECT name, labels_str, 'sum' AS aggregate, t, sm AS v FROM b
         |ORDER BY name, labels_str, aggregate, t""".stripMargin,

    "tsdb_seriesset_prom" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |       round(sum(v), 6) AS v
         |FROM s WHERE name = 'click' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tsdb_frame_pivot" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT labels_str, tt AS t,
         |  max(CASE WHEN name = 'click' THEN v END) AS click,
         |  max(CASE WHEN name = 'error' THEN v END) AS error,
         |  max(CASE WHEN name = 'purchase' THEN v END) AS purchase,
         |  max(CASE WHEN name = 'signup' THEN v END) AS signup,
         |  max(CASE WHEN name = 'view' THEN v END) AS "view"
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tsdb_frame_mixed" ->
      s"""WITH s AS (
         |  SELECT event_type AS name,
         |         'user=' || CAST(user_id AS VARCHAR) AS labels_str,
         |         epoch_ns(ts) // 1000000 AS tt, value AS v,
         |         CAST(NULL AS VARCHAR) AS vs
         |  FROM events
         |  UNION ALL
         |  SELECT 'props', 'user=' || CAST(user_id AS VARCHAR),
         |         epoch_ns(ts) // 1000000, NULL, props
         |  FROM events)
         |SELECT labels_str, tt AS t,
         |  max(CASE WHEN name = 'click' THEN v END) AS click,
         |  max(CASE WHEN name = 'props' THEN vs END) AS props
         |FROM s WHERE name IN ('click', 'props') AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tsdb_sql" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(max(v), 6) AS "max",
         |  round(sum(v) / count(v), 6) AS avg
         |FROM s
         |WHERE name = 'purchase' AND labels_str = 'user=42' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // conditional aggregation is the relational equivalent of the engine's
    // per-metric aggregate + pivot-merge: FILTER leaves NULL exactly where
    // a metric has no samples in the (labels, bucket) cell
    "tsdb_multi_agg" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT labels_str, $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |  round(avg(v) FILTER (WHERE name = 'click'), 6) AS "avg(click)",
         |  round(sum(v) FILTER (WHERE name = 'purchase'), 6) AS "sum(purchase)",
         |  CAST(nullif(count(v) FILTER (WHERE name = 'signup'), 0) AS DOUBLE) AS "count(signup)"
         |FROM s WHERE name IN ('click', 'purchase', 'signup') AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tsdb_storage_agg" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max",
         |  round(sum(v) / count(v), 6) AS avg
         |FROM s WHERE name = 'signup' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the stream-ingested table must serve the exact same aggregates as a
    // batch-built one: events has no duplicate (series, time) keys, so
    // the in-watermark dedup admits every sample and the micro-batched
    // incremental rollup must converge to the batch rollup
    "tsdb_ingest_stream" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max"
         |FROM s WHERE name = 'signup' AND tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // median re-bucket twin: rebuild the 6h rollup in SQL, then fan each
    // rollup cell into grid cells ceil((m-F)/S)..floor((m+W-F)/S) clamped
    // to [0, maxK] — exactly the engine's serverAggregate sliding rule
    "tsdb_sliding_server" -> {
      val R = 6 * Hour; val S = Day; val W = 2 * Day; val maxK = (T - F) / Day
      s"""WITH s AS ($SamplesCte),
         |r AS (SELECT name, labels_str, (tt // $R) * $R AS b,
         |             count(v) AS c, sum(v) AS sm
         |      FROM s WHERE name = 'view' GROUP BY 1, 2, 3),
         |e AS (SELECT name, labels_str, c, sm, u.k AS k
         |      FROM r, UNNEST(generate_series(
         |          GREATEST(CAST(ceil((b + ${R / 2} - $F) * 1.0 / $S) AS BIGINT), 0),
         |          LEAST(CAST(floor((b + ${R / 2} + $W - $F) * 1.0 / $S) AS BIGINT), $maxK))) AS u(k))
         |SELECT name, labels_str, $F + k * $S AS t,
         |  CAST(sum(c) AS DOUBLE) AS "count",
         |  round(sum(sm), 6) AS "sum",
         |  round(sum(sm) / sum(c), 6) AS avg
         |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    },

    "tsdb_storage_preagg" ->
      s"""WITH s AS (SELECT event_type AS name, CAST(user_id AS VARCHAR) AS "user",
         |                  epoch_ns(ts) // 1000000 AS tt, value AS v FROM events)
         |SELECT name, "user", $F + (tt - $F) // ${7 * Day} * ${7 * Day} AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // relational DELETE is the twin of the engine's three staged deletes:
    // same inclusive time bounds, same metric/label predicates
    "tsdb_delete" ->
      s"""WITH s AS ($SamplesCte),
         |d AS (SELECT * FROM s
         |      WHERE NOT (tt BETWEEN ${F + 10 * Day + 6 * Hour} AND ${F + 13 * Day + 6 * Hour})
         |        AND NOT (name = 'click' AND tt BETWEEN ${F + 5 * Day} AND ${F + 6 * Day - 1})
         |        AND NOT (labels_str = 'user=42' AND tt BETWEEN ${F + 20 * Day} AND ${F + 22 * Day - 1}))
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max"
         |FROM d WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // part_start = the storage partition (default 1d interval); DuckDB
    // sums bigints as HUGEINT, so cast back; avg over exact integer
    // sums is bit-deterministic on both sides
    "tsdb_dsv2_sum" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT tt // $Day * $Day AS part_start,
         |  CAST(sum(tt) AS BIGINT) AS sum_t, avg(tt) AS avg_t,
         |  count(*) AS cnt, round(sum(v), 4) AS sum_v
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // the SQL DELETE FROM path must land on the identical survivors —
    // same twin as tsdb_delete (whose third predicate labels['user']='42'
    // is this corpus's labels_str = 'user=42')
    "tsdb_dsv2_delete" ->
      s"""WITH s AS ($SamplesCte),
         |d AS (SELECT * FROM s
         |      WHERE NOT (tt BETWEEN ${F + 10 * Day + 6 * Hour} AND ${F + 13 * Day + 6 * Hour})
         |        AND NOT (name = 'click' AND tt BETWEEN ${F + 5 * Day} AND ${F + 6 * Day - 1})
         |        AND NOT (labels_str = 'user=42' AND tt BETWEEN ${F + 20 * Day} AND ${F + 22 * Day - 1}))
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max"
         |FROM d WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // label scan twin: the option is user=42 equality on this corpus;
    // the no-match read contributes nothing
    "tsdb_dsv2_label" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, count(*) AS cnt, round(sum(v), 4) AS sum_v
         |FROM s WHERE labels_str = 'user=42'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SQL UPDATE twin: the same two mutations applied relationally —
    // value*2 on the view slice, time+1h on the click slice — with
    // target-key collisions resolved updated-row-wins (the engine's LWW
    // rule: the moved row carries the newer seq)
    "tsdb_dsv2_update" ->
      s"""WITH s AS ($SamplesCte),
         |u AS (SELECT name, labels_str,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 11 * Day - 1}
         |             THEN tt + $Hour ELSE tt END AS tt,
         |        CASE WHEN name = 'view' AND tt BETWEEN ${F + 3 * Day} AND ${F + 5 * Day - 1}
         |             THEN v * 2 ELSE v END AS v,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 11 * Day - 1}
         |             THEN 1 ELSE 0 END AS upd
         |      FROM s),
         |d AS (SELECT name, labels_str, tt, v FROM u
         |      QUALIFY row_number() OVER (PARTITION BY name, labels_str, tt ORDER BY upd DESC) = 1)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max"
         |FROM d WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // MERGE twin: matched-even-user purchases in the week-7 slice drop,
    // matched-odd ones scale 3x, and ten user=999999 samples insert
    "tsdb_dsv2_merge" ->
      s"""WITH s AS ($SamplesCte),
         |a AS (SELECT name, labels_str, tt, v,
         |        CAST(SUBSTR(labels_str, 6) AS BIGINT) % 2 AS m2
         |      FROM s WHERE name = 'purchase'
         |        AND tt BETWEEN ${F + 7 * Day} AND ${F + 8 * Day - 1}),
         |upd AS (SELECT s.name, s.labels_str, s.tt,
         |          CASE WHEN a.tt IS NOT NULL THEN a.v * 3 ELSE s.v END AS v
         |        FROM s LEFT JOIN a ON s.name = a.name
         |          AND s.labels_str = a.labels_str AND s.tt = a.tt AND a.m2 = 1
         |        WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.name = s.name
         |          AND a.labels_str = s.labels_str AND a.tt = s.tt AND a.m2 = 0)),
         |ins AS (SELECT 'purchase' AS name, 'user=999999' AS labels_str,
         |          ${F + 25 * Day} + k * $Hour AS tt, CAST(k AS DOUBLE) AS v
         |        FROM generate_series(0, 9) t(k)),
         |d AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM d WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the tombstone-path deletes are the same relational anti-filter —
    // the mechanism differs (tombstones + compaction), the semantics
    // must not
    "tsdb_delete_mor" ->
      s"""WITH s AS ($SamplesCte),
         |d AS (SELECT * FROM s
         |      WHERE NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day + 6 * Hour} AND ${F + 13 * Day + 6 * Hour})
         |        AND NOT (labels_str = 'user=42' AND tt BETWEEN ${F + 20 * Day} AND ${F + 22 * Day - 1}))
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM d WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // snapshot == the untouched corpus: any later-batch leak (the +100
    // override or the tombstones) breaks the hash
    "tsdb_time_travel" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the snapshot aggregate == the untouched corpus, served through the
    // mixed rollup+rebuilt plan — any live-rollup leak from the touched
    // partitions (or any later-batch leak at all) breaks the hash
    "tsdb_asof_rollup" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum",
         |  round(min(v), 6) AS "min",
         |  round(max(v), 6) AS "max"
         |FROM s WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the four closed-form change sets the staged mutations produce:
    // updates carry the post-image (+100) paired with their pre-image
    // rows (original v), inserts are the planted probe rows, deletes
    // carry the pre-image the tombstones shadow
    "tsdb_changes" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT * FROM (
         |  SELECT name, labels_str, tt AS time, round(v + 100, 6) AS value,
         |         'update' AS _change_type
         |  FROM s WHERE name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |  UNION ALL
         |  SELECT name, labels_str, tt, round(v, 6), 'update_preimage'
         |  FROM s WHERE name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |  UNION ALL
         |  SELECT 'probe', labels_str, tt, round(v * 2, 6), 'insert'
         |  FROM s WHERE name = 'click' AND tt < ${F + 2 * Day}
         |  UNION ALL
         |  SELECT name, labels_str, tt, round(v, 6), 'delete'
         |  FROM s WHERE name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})
         |ORDER BY name, labels_str, time, _change_type""".stripMargin,

    // the CDC-maintained replica's FINAL state recomputed from scratch:
    // overrides applied, the deleted range gone, probe rows added, then
    // the same per-day count/sum the replica maintains incrementally
    "tsdb_cdc_replica" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |             THEN v + 100 ELSE v END AS v
         |      FROM s
         |      WHERE NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})),
         |p AS (SELECT 'probe' AS name, labels_str, tt, v * 2 AS v FROM s
         |      WHERE name = 'click' AND tt < ${F + 2 * Day}),
         |u AS (SELECT name, labels_str, tt, v FROM m
         |      UNION ALL SELECT name, labels_str, tt, v FROM p)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // extents recomputed from scratch over the FINAL live rows: the
    // probes (inserted), the click day-ranges (deleted off both ends),
    // the override (live, times unchanged)
    "tsdb_cdc_extents" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt FROM s
         |      WHERE NOT (name = 'click' AND tt < ${F + Day})
         |        AND NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})),
         |p AS (SELECT 'probe' AS name, labels_str, tt FROM s
         |      WHERE name = 'click' AND tt < ${F + 2 * Day}),
         |u AS (SELECT name, labels_str, tt FROM m
         |      UNION ALL SELECT name, labels_str, tt FROM p)
         |SELECT name, labels_str, CAST(count(*) AS BIGINT) AS cnt,
         |  min(tt) AS first_t, max(tt) AS last_t
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // top-k recomputed from scratch over the FINAL live rows: rewrites
    // applied (+100 in the window), the deleted range gone, then the
    // top-2 (value, time) per series — the view == recompute contract
    "tsdb_cdc_topk" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |             THEN v + 100 ELSE v END AS v
         |      FROM s
         |      WHERE NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})),
         |r AS (SELECT name, labels_str, v, tt,
         |        row_number() OVER (PARTITION BY name, labels_str
         |                           ORDER BY v DESC, tt DESC) AS rk
         |      FROM m)
         |SELECT name, labels_str, CAST(rk AS INT) AS rank, v AS value,
         |  tt AS time
         |FROM r WHERE rk <= 2
         |ORDER BY name, labels_str, rank""".stripMargin,

    // the stream-fed replica converges to the identical recompute
    "tsdb_cdc_source" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |             THEN v + 100 ELSE v END AS v
         |      FROM s
         |      WHERE NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})),
         |p AS (SELECT 'probe' AS name, labels_str, tt, v * 2 AS v FROM s
         |      WHERE name = 'click' AND tt < ${F + 2 * Day}),
         |u AS (SELECT name, labels_str, tt, v FROM m
         |      UNION ALL SELECT name, labels_str, tt, v FROM p)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // multi-view CDC fan-out recomputed from scratch: per-series moment
    // stats over the FINAL live rows (m = overrides applied + delete
    // range gone; p = probe rows), plus the registry's insert-monotone
    // first/last watermarks over every EVER-INSERTED row (initial
    // corpus + probe inserts + override post-images; deletes never
    // lower a watermark — the declared semantics). refcount == live
    // row count by construction (updates net 0, deletes −1).
    "tsdb_cdc_views" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}
         |             THEN v + 100 ELSE v END AS v
         |      FROM s
         |      WHERE NOT (name = 'click' AND tt BETWEEN ${F + 10 * Day} AND ${F + 13 * Day - 1})),
         |p AS (SELECT 'probe' AS name, labels_str, tt, v * 2 AS v FROM s
         |      WHERE name = 'click' AND tt < ${F + 2 * Day}),
         |u AS (SELECT name, labels_str, tt, v FROM m
         |      UNION ALL SELECT name, labels_str, tt, v FROM p),
         |ins AS (SELECT name, labels_str, tt FROM s
         |        UNION ALL SELECT 'probe' AS name, labels_str, tt FROM s
         |          WHERE name = 'click' AND tt < ${F + 2 * Day}
         |        UNION ALL SELECT name, labels_str, tt FROM s
         |          WHERE name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 7 * Day - 1}),
         |w AS (SELECT name, labels_str, min(tt) AS first_t, max(tt) AS last_t
         |      FROM ins GROUP BY 1, 2)
         |SELECT u.name, u.labels_str,
         |  CAST(count(*) AS DOUBLE) AS cnt,
         |  round(sum(u.v), 6) AS "sum",
         |  round(sum(u.v * u.v), 6) AS sumsq,
         |  CAST(count(*) AS DOUBLE) AS refs,
         |  w.first_t, w.last_t
         |FROM u JOIN w ON u.name = w.name AND u.labels_str = w.labels_str
         |GROUP BY u.name, u.labels_str, w.first_t, w.last_t
         |ORDER BY 1, 2""".stripMargin,

    // a 10-day horizon at now=T keeps exactly the last 10 partition days
    "tsdb_retention" ->
      s"""WITH s AS ($SamplesCte)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM s WHERE tt BETWEEN ${F + 20 * Day} AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // LWW view after the override batch: click samples in days 3..6 carry
    // +100; counts unchanged (overrides rewrite, never duplicate)
    "tsdb_compact" ->
      s"""WITH s AS ($SamplesCte),
         |m AS (SELECT name, labels_str, tt,
         |        CASE WHEN name = 'click' AND tt BETWEEN ${F + 3 * Day} AND ${F + 6 * Day - 1}
         |             THEN v + 100 ELSE v END AS v
         |      FROM s)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM m WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the staged CSV parses back to the original events samples
    // (double→string→double is shortest-round-trip exact) plus the six
    // planted samples, here as closed-form constants: the `:`-array line
    // explodes to three position-paired samples, the ISO line lands on
    // 2024-01-02, the now-2h line at T-2h under the pinned nowMs=T
    "tsdb_csv_roundtrip" ->
      s"""WITH s AS ($SamplesCte),
         |p (name, labels_str, tt, v) AS (VALUES
         |  ('planted', 'user=0', ${F + Hour}, 1.5),
         |  ('planted', 'user=0', ${F + 2 * Hour}, 2.5),
         |  ('planted', 'user=0', ${F + 3 * Hour}, 3.5),
         |  ('planted', 'user=1', ${F + Hour}, 7.25),
         |  ('planted', 'user=2', ${F + Day}, 9.0),
         |  ('planted', 'user=3', ${T - 2 * Hour}, 4.5)),
         |u AS (SELECT name, labels_str, tt, v FROM s
         |      UNION ALL SELECT name, labels_str, tt, v FROM p)
         |SELECT name, labels_str, $F + (tt - $F) // $Day * $Day AS t,
         |  CAST(count(v) AS DOUBLE) AS "count",
         |  round(sum(v), 6) AS "sum"
         |FROM u WHERE tt BETWEEN $F AND $T
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q3_topk_join" ->
      """SELECT o.o_orderkey, o.o_orderdate,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    // `list_filter(..., x -> x <> '')` mirrors TextAnalysis.tokens dropping
    // the phantom "" token Java/DuckDB split emits on empty input — without
    // it an empty/whitespace-only doc counts 1 token here and 0 in Spark
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |       x -> x <> '')) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the learned table merges " the" to one token and leaves digit runs
    // unmerged: a + 1 + len(id) per doc, like the _exact fixture
    "text_bpe_train" ->
      """SELECT doc_id,
        |  (doc_id % 7 + 1) + 1 + length(CAST(doc_id AS VARCHAR)) AS learned_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form counts of the planted fixture words (constants derived
    // from Bpe.DefaultMerges; validated against the real encoder for
    // ids 0..600 — see the entry's comment)
    "text_tokens_bpe_exact" ->
      """SELECT doc_id,
        |  (doc_id % 7) + (doc_id % 5) + 3 * (doc_id % 3)
        |    + 1 + length(CAST(doc_id AS VARCHAR)) AS bpe_tokens_real
        |FROM documents ORDER BY doc_id""".stripMargin,

    // word count mirrors TextAnalysis.tokens (phantom-""-free); the
    // wc=0 / cl=0 CASE guards mirror qualityColumns defining ratio/score
    // to 0.0 on empty docs instead of NULL/div-by-zero
    "text_quality" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    length(text) AS cl,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS wc,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS pc,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dc,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS sc
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(cl AS BIGINT) AS char_len,
        |  CAST(wc AS BIGINT) AS word_cnt,
        |  CAST(pc AS BIGINT) AS punct_cnt,
        |  CAST(dc AS BIGINT) AS digit_cnt,
        |  CASE WHEN wc > 0 THEN round(sc * 1.0 / wc, 6) ELSE 0.0 END AS stop_ratio,
        |  CASE WHEN wc > 0 AND cl > 0 THEN
        |    round(0.4 * least(wc / 100.0, 1.0) + 0.4 * (sc * 1.0 / wc)
        |          + 0.2 * (1.0 - pc * 1.0 / cl), 6)
        |  ELSE 0.0 END AS quality_score
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH c AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |n AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en,
        |    len(list_filter(w, x -> list_contains(['el','la','de','los','y','que','en'], x))) AS es,
        |    len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein','nicht'], x))) AS de,
        |    len(list_filter(w, x -> list_contains(['le','la','les','et','est','une','dans'], x))) AS fr
        |  FROM c)
        |SELECT doc_id, lang,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |       WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |       WHEN de >= fr AND de > 0 THEN 'de'
        |       WHEN fr > 0 THEN 'fr'
        |       ELSE 'unknown' END AS pred_lang
        |FROM n ORDER BY doc_id""".stripMargin,

    // closed-form planted winner: the model must recover each held-out
    // doc's language from character statistics alone (the score strings
    // are unseen permutations of the training vocabulary)
    "text_langid_model" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |       WHEN 0 THEN 'de' WHEN 1 THEN 'en' WHEN 2 THEN 'es'
        |       WHEN 3 THEN 'fr' ELSE 'zh' END AS pred_lang
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin,

    // closed-form planted parity winner: the supervised quality gate
    // must recover each held-out doc's class from character statistics
    "text_quality_model" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'good' ELSE 'bad' END AS pred_label
        |FROM documents WHERE doc_id % 4 >= 2 ORDER BY doc_id""".stripMargin,

    // same planted mess (decomposed e+U+0301, CRLF/CR, BEL, tab/space
    // runs); nfc_normalize is DuckDB's Unicode composition — both engines
    // implement the same canonical algorithm, so bytes match exactly
    "text_normalize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' line1' || chr(13) || chr(10) ||
        |      'line2' || chr(13) || 'end' || chr(7) || ' a ' || chr(9) || ' b  ' AS t
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      nfc_normalize(t),
        |      '\r\n?', chr(10), 'g'),
        |      '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |      '[ \t]+', ' ', 'g')) AS norm_text
        |  FROM p)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS norm_len
        |FROM n ORDER BY doc_id""".stripMargin,

    // identical wrap + the identical strip/decode chain (entity decode
    // after tag strip, &amp; last)
    "text_strip_html" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    '<html><head><style>body { color: red; }</style>'
        |    || '<script type="text/javascript">var x = 1 < 2 && y > 0;</script></head>'
        |    || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
        |    || text
        |    || ' &amp; more&nbsp;&lt;tags&gt; &quot;q&quot; it&#39;s'
        |    || ' literal &amp;lt; stays</p><!-- hidden --></body></html>' AS h
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      h,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM p ORDER BY doc_id""".stripMargin,

    // the planted page replayed block by block: chrome rows carry their
    // bad/short classes, content rows the exact closed-form paragraphs
    "text_main_content" ->
      """WITH d AS (SELECT doc_id, 2 + CAST(doc_id % 3 AS INT) AS np FROM documents),
        |para AS (
        |  SELECT d.doc_id, CAST(1 + t.p AS BIGINT) AS block_idx,
        |    'good' AS cls, true AS kept,
        |    'doc ' || d.doc_id || ' paragraph ' || t.p || ' ' ||
        |    trim(repeat('the and of to it in that is was for ',
        |                6 + CAST((d.doc_id + t.p) % 3 AS INT))) AS text
        |  FROM d, generate_series(1, 4) t(p) WHERE t.p <= d.np)
        |SELECT doc_id, CAST(0 AS BIGINT) AS block_idx, 'bad' AS cls,
        |  false AS kept, 'Home About Contact' AS text FROM d
        |UNION ALL SELECT doc_id, CAST(1 AS BIGINT), 'short', true,
        |  'Doc ' || doc_id FROM d
        |UNION ALL SELECT doc_id, block_idx, cls, kept, text FROM para
        |UNION ALL SELECT doc_id, CAST(np + 2 AS BIGINT), 'bad', false,
        |  'Follow us on twitter' FROM d
        |UNION ALL SELECT doc_id, CAST(np + 3 AS BIGINT), 'bad', false,
        |  '© 2024 Example Corp' FROM d
        |ORDER BY doc_id, block_idx""".stripMargin,

    // identical sorted-count fold: list_sort ASC == sort_array ASC on
    // integers, so the float summation order matches exactly
    "text_entropy" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ''), x -> x <> '') AS cs
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(cs) AS n, len(list_distinct(cs)) AS dc,
        |    list_sort(list_transform(list_distinct(cs),
        |      ch -> len(list_filter(cs, x -> x = ch)))) AS cnts
        |  FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST(dc AS BIGINT) AS distinct_chars,
        |  CASE WHEN n > 0 THEN round(ln(n) - list_aggregate(
        |    list_transform(cnts, x -> x * ln(x)), 'sum') / n, 6)
        |  ELSE 0.0 END AS char_entropy
        |FROM m ORDER BY doc_id""".stripMargin,

    // same planted strata; every rule flag re-derived as the identical
    // integer comparison (ratios are 6-dp display values only)
    "text_gopher_rules" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- bullet one' || chr(10)
        |      || '- bullet two' || chr(10) || '* bullet three' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'trailing thought...'
        |      || chr(10) || 'another one...' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || '## ## ## ## ##' ELSE '' END AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split_regex(trim(t), '\s+'), x -> x <> '') AS w,
        |    list_filter(string_split_regex(trim(lower(t)), '\s+'), x -> x <> '') AS lw,
        |    string_split(t, chr(10)) AS lines
        |  FROM p),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS wc,
        |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS sum_len,
        |    CAST(length(t) - length(regexp_replace(t, '#', '', 'g'))
        |      + (length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3
        |      AS BIGINT) AS sym_cnt,
        |    CAST(len(lines) AS BIGINT) AS nl,
        |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '- ')
        |      OR starts_with(ltrim(l), '* '))) AS BIGINT) AS bl,
        |    CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS BIGINT) AS el,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS aw,
        |    CAST((CASE WHEN list_contains(lw, 'the') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'be') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'to') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'of') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'and') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'that') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'have') THEN 1 ELSE 0 END)
        |      + (CASE WHEN list_contains(lw, 'with') THEN 1 ELSE 0 END) AS BIGINT) AS rq
        |  FROM f),
        |g AS (
        |  SELECT doc_id, wc, sum_len, sym_cnt, nl, bl, el, aw, rq,
        |    (wc >= 50 AND wc <= 100000) AS g1,
        |    (sum_len >= 3 * wc AND sum_len <= 10 * wc AND wc > 0) AS g2,
        |    (sym_cnt * 10 < wc) AS g3,
        |    (bl * 10 < nl * 9) AS g4,
        |    (el * 10 < nl * 3) AS g5,
        |    (aw * 5 > wc * 4) AS g6,
        |    (rq >= 2) AS g7
        |  FROM m)
        |SELECT doc_id, wc AS word_cnt,
        |  CASE WHEN wc > 0 THEN round(sum_len * 1.0 / wc, 6) ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN wc > 0 THEN round(sym_cnt * 1.0 / wc, 6) ELSE 0.0 END AS symbol_ratio,
        |  CASE WHEN nl > 0 THEN round(bl * 1.0 / nl, 6) ELSE 0.0 END AS bullet_line_ratio,
        |  CASE WHEN nl > 0 THEN round(el * 1.0 / nl, 6) ELSE 0.0 END AS ellipsis_line_ratio,
        |  CASE WHEN wc > 0 THEN round(aw * 1.0 / wc, 6) ELSE 0.0 END AS alpha_word_ratio,
        |  rq AS req_word_cnt,
        |  g1 AS g1_word_count, g2 AS g2_mean_word_len, g3 AS g3_symbol_ratio,
        |  g4 AS g4_bullet_lines, g5 AS g5_ellipsis_lines, g6 AS g6_alpha_words,
        |  g7 AS g7_required_words,
        |  (g1 AND g2 AND g3 AND g4 AND g5 AND g6 AND g7) AS gopher_keep
        |FROM g ORDER BY doc_id""".stripMargin,

    // gap-island encoding of session_window semantics: new session exactly
    // when tt - prev > gap (events span [t, t+gap]; touching spans merge)
    "events_sessionize" ->
      s"""WITH s AS (
         |  SELECT CAST(user_id AS VARCHAR) AS u,
         |         epoch_ns(ts) // 1000000 AS tt, value AS v
         |  FROM events
         |  WHERE epoch_ns(ts) // 1000000 BETWEEN $F AND $T),
         |m AS (
         |  SELECT u, tt, v,
         |    CASE WHEN lag(tt) OVER w IS NULL
         |              OR tt - lag(tt) OVER w > ${30 * 60000L} THEN 1
         |         ELSE 0 END AS brk
         |  FROM s WINDOW w AS (PARTITION BY u ORDER BY tt)),
         |g AS (
         |  SELECT u, tt, v,
         |    sum(brk) OVER (PARTITION BY u ORDER BY tt
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM m)
         |SELECT u AS "user", min(tt) AS session_start,
         |       max(tt) + ${30 * 60000L} AS session_end,
         |       CAST(count(*) AS BIGINT) AS n_events,
         |       round(sum(v), 6) AS sum_v
         |FROM g GROUP BY u, sid ORDER BY 1, 2""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same planted-PII construction, same three patterns in the same order
    // (TextAnalysis.PiiPatterns), RE2-safe (no backrefs/lookarounds)
    "text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |         || ' tel +1 (555) 123-4567 end',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\[\]. -]{5,}[0-9]', '<PHONE>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same planted construction; RE2 and Java regex agree on the
    // backreference-free URL pattern
    "text_url_domains" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' see http://Site' || CAST(doc_id % 50 AS VARCHAR)
        |    || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 7 IN (0, 3)
        |            THEN ' and https://www.spam' || CAST(doc_id % 7 AS VARCHAR)
        |                 || '.bad/x?q=1'
        |            ELSE '' END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text,
        |          '(?i:https?)://[A-Za-z0-9._~:/?#@!$&()*+,;=%-]+')) AS url
        |      FROM d)
        |SELECT DISTINCT doc_id,
        |  lower(regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)) AS domain
        |FROM u WHERE regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) <> ''
        |ORDER BY doc_id, domain""".stripMargin,

    // identical planting/extraction, then: primary = min(domain) per doc,
    // rank by doc_id within primary, cap at 5, anti-join losers
    "corpus_domain_cap" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 <> 3
        |            THEN ' see http://Site' || CAST(doc_id % 50 AS VARCHAR)
        |                 || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |            ELSE '' END
        |    || CASE WHEN doc_id % 7 IN (0, 3)
        |            THEN ' and https://www.spam' || CAST(doc_id % 7 AS VARCHAR)
        |                 || '.bad/x?q=1'
        |            ELSE '' END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text,
        |          '(?i:https?)://[A-Za-z0-9._~:/?#@!$&()*+,;=%-]+')) AS url
        |      FROM d),
        |doms AS (SELECT DISTINCT doc_id,
        |    lower(regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)) AS domain
        |  FROM u
        |  WHERE regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) <> ''),
        |prim AS (SELECT doc_id, min(domain) AS p FROM doms GROUP BY doc_id),
        |ranked AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY p ORDER BY doc_id) AS rk
        |  FROM prim)
        |SELECT doc_id FROM d
        |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 5)
        |ORDER BY doc_id""".stripMargin,

    // suffix set via list_slice over the label array (1-based, same
    // enumeration as the Spark side's transform/slice)
    "text_url_filter" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' see http://Site' || CAST(doc_id % 50 AS VARCHAR)
        |    || '.example.com/p/' || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 7 IN (0, 3)
        |            THEN ' and https://www.spam' || CAST(doc_id % 7 AS VARCHAR)
        |                 || '.bad/x?q=1'
        |            ELSE '' END AS text
        |  FROM documents),
        |u AS (SELECT doc_id,
        |        unnest(regexp_extract_all(text,
        |          '(?i:https?)://[A-Za-z0-9._~:/?#@!$&()*+,;=%-]+')) AS url
        |      FROM d),
        |doms AS (SELECT DISTINCT doc_id,
        |           lower(regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1)) AS domain
        |         FROM u
        |         WHERE regexp_extract(url, '(?i:https?)://(?:[A-Za-z0-9._%+:-]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) <> ''),
        |lab AS (SELECT doc_id, string_split(domain, '.') AS labels FROM doms),
        |sfx AS (SELECT doc_id,
        |          unnest(list_transform(range(1, len(labels) + 1),
        |            i -> array_to_string(list_slice(labels, i, len(labels)), '.')))
        |            AS domain
        |        FROM lab),
        |blk AS (SELECT * FROM (VALUES ('spam0.bad'), ('spam3.bad'),
        |                              ('example.org')) b(domain)),
        |bad AS (SELECT DISTINCT doc_id FROM sfx JOIN blk USING (domain))
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |                         x -> x <> '') AS w
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |        tf.tf * ((n.n + 1.0) / (df.df + 1.0)) AS score0,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf * ((n.n + 1.0) / (df.df + 1.0)) DESC, tf.term) AS rank
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, round(score0, 6) AS score, rank
        |FROM s WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  count(*) AS cnt, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "dedup_ngram_jaccard" -> NgramJaccardOracle,
    // LSH verification recomputes the true Jaccard, and the banding
    // parameters (64 hashes / 32 bands) give P[miss] < 1e-4 at j=0.5 —
    // the verified LSH output equals the brute-force result on this data.
    "dedup_minhash_lsh" -> NgramJaccardOracle,
    // transitive closure over the pair graph → min reachable id per member
    "dedup_clusters" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes
         |SELECT doc_id, cluster_id FROM comp ORDER BY doc_id""".stripMargin,

    "dedup_keep" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,

    // closure, then per-cluster ranking by whitespace-token count desc /
    // id asc — the keep-best policy's loser list, anti-joined back
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes,
         |sc AS (
         |  SELECT c.doc_id, c.cluster_id,
         |    len(list_filter(string_split_regex(trim(d.text), '\\s+'),
         |        x -> x <> '')) AS score
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |l AS (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
         |  FROM sc)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM l WHERE rn > 1)
         |ORDER BY doc_id""".stripMargin,

    // brute cross Jaccard: batch docs (id >= 400) near-dup of ANY
    // existing doc (id < 400) are dropped; short docs (< 3 words) have no
    // shingles and always survive — mirroring the Spark side exactly
    "dedup_incremental" ->
      s"""WITH $NgramJaccardCtes,
         |m AS (
         |  SELECT b.doc_id AS bid FROM s a JOIN s b
         |  ON a.doc_id < 400 AND b.doc_id >= 400
         |  AND len(list_intersect(a.sh, b.sh)) * 1.0
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT bid FROM m)
         |ORDER BY doc_id""".stripMargin,

    // kept = ALL of the history batch + the new batch minus cross-matches
    // (the dedup_incremental oracle with the history union'd back)
    "corpus_dedup_stream" ->
      s"""WITH $NgramJaccardCtes,
         |m AS (
         |  SELECT b.doc_id AS bid FROM s a JOIN s b
         |  ON a.doc_id < 400 AND b.doc_id >= 400
         |  AND len(list_intersect(a.sh, b.sh)) * 1.0
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
         |SELECT doc_id FROM documents WHERE doc_id < 400
         |UNION ALL
         |SELECT doc_id FROM documents
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT bid FROM m)
         |ORDER BY doc_id""".stripMargin,

    // the indexed path must reproduce the recompute-everything result —
    // same brute cross-Jaccard twin as dedup_incremental
    "dedup_incremental_indexed" ->
      s"""WITH $NgramJaccardCtes,
         |m AS (
         |  SELECT b.doc_id AS bid FROM s a JOIN s b
         |  ON a.doc_id < 400 AND b.doc_id >= 400
         |  AND len(list_intersect(a.sh, b.sh)) * 1.0
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
         |SELECT doc_id FROM documents
         |WHERE doc_id >= 400 AND doc_id NOT IN (SELECT bid FROM m)
         |ORDER BY doc_id""".stripMargin,

    // closure → per-cluster size → size histogram with docs-covered and
    // docs-dropped receipts
    "dedup_report" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes,
         |cs AS (SELECT cluster_id, count(*) AS cluster_size
         |       FROM comp GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "sim_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |m AS (SELECT vec_id, emb,
        |         list_max(list_transform(emb, x -> abs(x))) AS am FROM e),
        |s AS (SELECT vec_id, emb,
        |         CASE WHEN am > 0 THEN 127.0 / am ELSE 0.0 END AS sc FROM m)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  array_to_string(list_transform(emb, x ->
        |    CAST(greatest(-127, least(127, floor(x * sc + 0.5))) AS INT)), ',') AS qvec
        |FROM s ORDER BY vec_id""".stripMargin,

    // full SimHash twin: distinct whitespace tokens (split of "" keeps the
    // "" token — mirroring Spark's split+array_distinct exactly), 60-bit
    // md5-prefix hash, 64 per-bit votes, sign fingerprint, 4x16-bit
    // banding, bit_count hamming <= 3. Bits 60..63 of the 60-bit hash are
    // always 0 → vote -n → never set, identically in both engines
    "dedup_simhash_md5" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS w
        |  FROM documents),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(w), 1, 15))::UBIGINT::BIGINT AS h FROM tok),
        |bits AS (SELECT doc_id, i,
        |           sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |         FROM h CROSS JOIN range(64) r(i) GROUP BY doc_id, i),
        |fp AS (SELECT doc_id,
        |         sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
        |       FROM bits GROUP BY doc_id),
        |blk AS (SELECT doc_id, simhash, b, (simhash >> (b*16)) & 65535 AS key
        |        FROM fp CROSS JOIN range(4) rb(b)),
        |p AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |        bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        |      FROM blk x JOIN blk y
        |        ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // the full IVF decontamination replay: planted eval paraphrases
    // (same float32 shift as dedup_embedding_srp), first-16 centroids,
    // home-cell assignment, 4-probe eval probing, cosine >= 0.9 contact
    // only through shared cells, anti-join to the kept ids
    "sim_decontaminate" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |ev AS (SELECT vec_id + 1000000 AS e_id,
        |         list_transform(embedding,
        |           x -> CAST(CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT) AS DOUBLE)) AS e_vec
        |       FROM embeddings WHERE vec_id < 40),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qa AS (SELECT e_id, c_id AS cluster FROM (
        |  SELECT ev.e_id, c.c_id,
        |    row_number() OVER (PARTITION BY ev.e_id
        |      ORDER BY list_cosine_similarity(ev.e_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM ev, c) WHERE rk <= 4),
        |bad AS (SELECT DISTINCT da.vec_id
        |  FROM qa JOIN da ON qa.cluster = da.cluster
        |  JOIN ev ON ev.e_id = qa.e_id
        |  JOIN e ON e.vec_id = da.vec_id
        |  WHERE list_cosine_similarity(ev.e_vec, e.emb) >= 0.9)
        |SELECT vec_id FROM e
        |WHERE vec_id NOT IN (SELECT vec_id FROM bad)
        |ORDER BY vec_id""".stripMargin,

    // the SRP-LSH path verifies candidates with the true cosine, so its
    // output must EQUAL brute force over the SAME planted-near-dup table
    // the entry builds: vec_id < 40 duplicated at +1000000 with every
    // component shifted +0.02 (float math mirrored exactly — double add,
    // then round-to-nearest float cast, identical in both engines)
    "dedup_embedding_srp" ->
      """WITH b AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 1000000 AS vec_id,
        |        list_transform(embedding,
        |          x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
        |      FROM b WHERE vec_id < 40),
        |u AS (SELECT * FROM b UNION ALL SELECT * FROM p),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM u)
        |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
        |  round(list_cosine_similarity(a.emb, b2.emb), 6) AS sim
        |FROM e a JOIN e b2 ON a.vec_id < b2.vec_id
        |WHERE list_cosine_similarity(a.emb, b2.emb) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    // same planted two-layer construction as the entry, then brute-force
    // pairs at 0.9 → recursive transitive closure → anti-join keep-list —
    // the dedup_keep oracle shape over embedding-space components
    "sim_semdedup" ->
      """WITH RECURSIVE b AS (SELECT vec_id, embedding FROM embeddings),
        |p1 AS (SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding,
        |           x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
        |       FROM b WHERE vec_id < 40),
        |p2 AS (SELECT vec_id + 2000000 AS vec_id,
        |         list_transform(embedding,
        |           x -> CAST(CAST(x AS DOUBLE) + 0.04 AS FLOAT)) AS embedding
        |       FROM b WHERE vec_id < 20),
        |u AS (SELECT * FROM b UNION ALL SELECT * FROM p1
        |      UNION ALL SELECT * FROM p2),
        |ee AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM u),
        |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
        |      FROM ee a JOIN ee b2 ON a.vec_id < b2.vec_id
        |      WHERE list_cosine_similarity(a.emb, b2.emb) >= 0.9),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT a, b FROM e
        |      UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |c AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
        |      FROM r GROUP BY a)
        |SELECT vec_id FROM u
        |WHERE vec_id NOT IN (SELECT vec_id FROM c WHERE vec_id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,

    "sim_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |j AS (
        |  SELECT q.q_id, e.vec_id, list_cosine_similarity(q.q_vec, e.emb) AS sim
        |  FROM q, e WHERE e.vec_id <> q.q_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM j)
        |SELECT q_id, vec_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // full replica of the deterministic-centroid IVF pipeline: seed
    // centroids = first 16 vectors by vec_id, data assigned to its
    // nearest centroid (cosine desc, c_id asc tiebreak), queries probe
    // their 4 nearest cells, candidates ranked within the probed cells,
    // then per-query overlap with exact brute-force top-5 — integer
    // counts, so float formatting can't smudge the compare
    // identical integer scaling (floor(v*2^k + 0.5)) and exact HUGEINT
    // sums; generate_series zip-unnest gives the 1-based dim
    "sim_embed_stats" ->
      """WITH x AS (
        |  SELECT unnest(embedding::DOUBLE[]) AS v,
        |         unnest(generate_series(1, len(embedding))) AS dim
        |  FROM embeddings),
        |s AS (
        |  SELECT dim, count(*) AS n,
        |    sum(CAST(floor(v * 16777216 + 0.5) AS BIGINT)) AS sv,
        |    sum(CAST(floor(v * 4096 + 0.5) AS BIGINT)
        |        * CAST(floor(v * 4096 + 0.5) AS BIGINT)) AS sv2,
        |    min(v) AS mn, max(v) AS mx
        |  FROM x GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
        |  round(CAST(sv AS DOUBLE) / 16777216 / n, 6) AS mean,
        |  round(sqrt(greatest(0.0,
        |    CAST(sv2 AS DOUBLE) / (4096.0 * 4096.0) / n
        |    - (CAST(sv AS DOUBLE) / 16777216 / n) * (CAST(sv AS DOUBLE) / 16777216 / n))), 6) AS std,
        |  round(mn, 6) AS min_v, round(mx, 6) AS max_v
        |FROM s ORDER BY dim""".stripMargin,

    "sim_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |j AS (
        |  SELECT q.vec_id AS q_id, e.vec_id,
        |         list_cosine_similarity(q.emb, e.emb) AS sim
        |  FROM e q, e WHERE e.vec_id <> q.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, vec_id) AS BIGINT) AS rank FROM j)
        |SELECT q_id, vec_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // deterministic IVF graph: first-16 centroids, home-cell assignment,
    // 4-probe candidates, rank within candidates — replicated step for
    // step from the Spark plan
    "sim_knn_graph_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qa AS (SELECT vec_id AS q_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk <= 4),
        |cand AS (
        |  SELECT qa.q_id, da.vec_id,
        |         list_cosine_similarity(q.emb, e.emb) AS sim
        |  FROM qa JOIN da ON qa.cluster = da.cluster
        |  JOIN e q ON q.vec_id = qa.q_id
        |  JOIN e ON e.vec_id = da.vec_id
        |  WHERE qa.q_id <> da.vec_id),
        |r AS (SELECT q_id, vec_id, sim, CAST(row_number() OVER (
        |        PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
        |  FROM cand)
        |SELECT q_id, vec_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,

    // same pinned-first-16 assignment as sim_knn_graph_ivf, then the
    // md5-order per-cluster quota replayed exactly
    "sim_cluster_sample" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |r AS (SELECT vec_id, cluster, CAST(row_number() OVER (
        |        PARTITION BY cluster
        |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rank
        |      FROM da)
        |SELECT vec_id, cluster, rank FROM r WHERE rank <= 25
        |ORDER BY cluster, rank""".stripMargin,

    "sim_ann_ivf_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qa AS (SELECT q_id, c_id AS cluster FROM (
        |  SELECT q.q_id, c.c_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM q, c) WHERE rk <= 4),
        |cand AS (
        |  SELECT qa.q_id, da.vec_id,
        |         list_cosine_similarity(q.q_vec, e.emb) AS sim
        |  FROM qa JOIN da ON qa.cluster = da.cluster
        |  JOIN q ON q.q_id = qa.q_id
        |  JOIN e ON e.vec_id = da.vec_id
        |  WHERE qa.q_id <> da.vec_id),
        |ivf AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
        |  FROM cand) WHERE rk <= 5),
        |brute AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, e.vec_id) AS rk
        |  FROM q, e WHERE e.vec_id <> q.q_id) WHERE rk <= 5)
        |SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS hits
        |FROM brute b LEFT JOIN ivf i
        |  ON b.q_id = i.q_id AND b.vec_id = i.vec_id
        |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin,

    // the sim_ann_ivf_recall replay EXTENDED with the quantized scan:
    // per-vector int8 codes (the sim_quantize formula), approx ranking
    // by cosine against the code (scale-free — the per-vector scale
    // cancels), top-10 shortlist, exact float re-rank to top-5, then
    // the same brute-force overlap integers
    // the full PQ pipeline replayed: per-subspace codebooks from the
    // first-16 vectors, L2-argmin encoding via the engine's exact
    // 2·x·c − ||c||² score, reconstruction norms, first-16 cell
    // assignment, the ADC numerator as the per-(query, candidate) sum of
    // chosen-codeword partial dots, shortlist, exact re-rank, recall
    "sim_ann_pq_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code_id,
        |                emb FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
        |cbq AS (SELECT u.sub, s.code_id, s.emb[u.sub*8+1 : u.sub*8+8] AS cw,
        |          list_dot_product(s.emb[u.sub*8+1 : u.sub*8+8],
        |                           s.emb[u.sub*8+1 : u.sub*8+8]) AS cw_sq
        |        FROM seed s, UNNEST(generate_series(0, 7)) AS u(sub)),
        |sv AS (SELECT e.vec_id, u.sub, e.emb[u.sub*8+1 : u.sub*8+8] AS sv
        |       FROM e, UNNEST(generate_series(0, 7)) AS u(sub)),
        |enc AS (SELECT vec_id, sub, code_id, cw_sq FROM (
        |  SELECT sv.vec_id, sv.sub, cbq.code_id, cbq.cw_sq,
        |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
        |      ORDER BY 2*list_dot_product(sv.sv, cbq.cw) - cbq.cw_sq DESC,
        |               cbq.code_id) AS rk
        |  FROM sv JOIN cbq ON sv.sub = cbq.sub) WHERE rk = 1),
        |pn AS (SELECT vec_id, sqrt(sum(cw_sq)) AS pq_norm FROM enc GROUP BY vec_id),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qa AS (SELECT q_id, c_id AS cluster FROM (
        |  SELECT q.q_id, c.c_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM q, c) WHERE rk <= 4),
        |qn AS (SELECT q_id, sqrt(list_dot_product(q_vec, q_vec)) AS qn FROM q),
        |adc AS (SELECT qa.q_id, en.vec_id,
        |          sum(list_dot_product(q.q_vec[en.sub*8+1 : en.sub*8+8], cbq.cw)) AS num
        |        FROM qa JOIN da ON qa.cluster = da.cluster
        |        JOIN enc en ON en.vec_id = da.vec_id
        |        JOIN cbq ON cbq.sub = en.sub AND cbq.code_id = en.code_id
        |        JOIN q ON q.q_id = qa.q_id
        |        WHERE qa.q_id <> da.vec_id
        |        GROUP BY qa.q_id, en.vec_id),
        |short AS (SELECT q_id, vec_id FROM (
        |  SELECT adc.q_id, adc.vec_id,
        |    row_number() OVER (PARTITION BY adc.q_id
        |      ORDER BY adc.num / (qn.qn * pn.pq_norm) DESC, adc.vec_id) AS rk
        |  FROM adc JOIN qn ON qn.q_id = adc.q_id
        |  JOIN pn ON pn.vec_id = adc.vec_id) WHERE rk <= 10),
        |pq AS (SELECT q_id, vec_id FROM (
        |  SELECT s.q_id, s.vec_id,
        |    row_number() OVER (PARTITION BY s.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, s.vec_id) AS rk
        |  FROM short s JOIN q ON q.q_id = s.q_id
        |  JOIN e ON e.vec_id = s.vec_id) WHERE rk <= 5),
        |brute AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, e.vec_id) AS rk
        |  FROM q, e WHERE e.vec_id <> q.q_id) WHERE rk <= 5)
        |SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS hits
        |FROM brute b LEFT JOIN pq i
        |  ON b.q_id = i.q_id AND b.vec_id = i.vec_id
        |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin,

    // the residual pipeline replayed end-to-end: home cells, residuals,
    // residual-seed codebooks, argmin codes, the cross-table
    // ‖c + recon‖ norm, probing, the dot(q, c_cell) + LUT numerator,
    // shortlist, exact re-rank, recall
    "sim_ann_pqr_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |res AS (SELECT e.vec_id, da.cluster,
        |          list_transform(generate_series(1, 64),
        |            j -> e.emb[j] - cv.c_vec[j]) AS r
        |        FROM e JOIN da ON da.vec_id = e.vec_id
        |        JOIN c cv ON cv.c_id = da.cluster),
        |seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code_id,
        |                r FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16)),
        |cbq AS (SELECT u.sub, s.code_id, s.r[u.sub*8+1 : u.sub*8+8] AS cw,
        |          list_dot_product(s.r[u.sub*8+1 : u.sub*8+8],
        |                           s.r[u.sub*8+1 : u.sub*8+8]) AS cw_sq
        |        FROM seed s, UNNEST(generate_series(0, 7)) AS u(sub)),
        |sv AS (SELECT res.vec_id, res.cluster, u.sub,
        |              res.r[u.sub*8+1 : u.sub*8+8] AS sv
        |       FROM res, UNNEST(generate_series(0, 7)) AS u(sub)),
        |enc AS (SELECT vec_id, cluster, sub, code_id, cw_sq FROM (
        |  SELECT sv.vec_id, sv.cluster, sv.sub, cbq.code_id, cbq.cw_sq,
        |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
        |      ORDER BY 2*list_dot_product(sv.sv, cbq.cw) - cbq.cw_sq DESC,
        |               cbq.code_id) AS rk
        |  FROM sv JOIN cbq ON sv.sub = cbq.sub) WHERE rk = 1),
        |cc AS (SELECT cl.c_id AS cluster, cb.sub, cb.code_id,
        |         list_dot_product(cl.c_vec[cb.sub*8+1 : cb.sub*8+8], cb.cw) AS ccw
        |       FROM c cl, cbq cb),
        |csq AS (SELECT c_id AS cluster, list_dot_product(c_vec, c_vec) AS c_sq FROM c),
        |pn AS (SELECT enc.vec_id,
        |         sqrt(greatest(0, any_value(csq.c_sq) + sum(2*cc.ccw + enc.cw_sq))) AS pq_norm
        |       FROM enc
        |       JOIN cc ON cc.cluster = enc.cluster AND cc.sub = enc.sub
        |              AND cc.code_id = enc.code_id
        |       JOIN csq ON csq.cluster = enc.cluster
        |       GROUP BY enc.vec_id),
        |qa AS (SELECT q_id, c_id AS cluster FROM (
        |  SELECT q.q_id, c.c_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM q, c) WHERE rk <= 4),
        |qn AS (SELECT q_id, sqrt(list_dot_product(q_vec, q_vec)) AS qn FROM q),
        |qc AS (SELECT qa.q_id, qa.cluster,
        |         list_dot_product(q.q_vec, cl.c_vec) AS qcv
        |       FROM qa JOIN q ON q.q_id = qa.q_id
        |       JOIN c cl ON cl.c_id = qa.cluster),
        |adc AS (SELECT qa.q_id, en.vec_id,
        |          any_value(qc.qcv) +
        |          sum(list_dot_product(q.q_vec[en.sub*8+1 : en.sub*8+8], cbq.cw)) AS num
        |        FROM qa JOIN enc en ON en.cluster = qa.cluster
        |        JOIN qc ON qc.q_id = qa.q_id AND qc.cluster = qa.cluster
        |        JOIN cbq ON cbq.sub = en.sub AND cbq.code_id = en.code_id
        |        JOIN q ON q.q_id = qa.q_id
        |        WHERE qa.q_id <> en.vec_id
        |        GROUP BY qa.q_id, en.vec_id),
        |short AS (SELECT q_id, vec_id FROM (
        |  SELECT adc.q_id, adc.vec_id,
        |    row_number() OVER (PARTITION BY adc.q_id
        |      ORDER BY adc.num / (qn.qn * pn.pq_norm) DESC, adc.vec_id) AS rk
        |  FROM adc JOIN qn ON qn.q_id = adc.q_id
        |  JOIN pn ON pn.vec_id = adc.vec_id) WHERE rk <= 10),
        |pq AS (SELECT q_id, vec_id FROM (
        |  SELECT s.q_id, s.vec_id,
        |    row_number() OVER (PARTITION BY s.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, s.vec_id) AS rk
        |  FROM short s JOIN q ON q.q_id = s.q_id
        |  JOIN e ON e.vec_id = s.vec_id) WHERE rk <= 5),
        |brute AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, e.vec_id) AS rk
        |  FROM q, e WHERE e.vec_id <> q.q_id) WHERE rk <= 5)
        |SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS hits
        |FROM brute b LEFT JOIN pq i
        |  ON b.q_id = i.q_id AND b.vec_id = i.vec_id
        |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin,

    // the serving half of sim_ann_pq_recall's twin: same CTE chain, the
    // final SELECT emits the served top-5 (sim, rank) instead of recall
    "sim_ann_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code_id,
        |                emb FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
        |cbq AS (SELECT u.sub, s.code_id, s.emb[u.sub*8+1 : u.sub*8+8] AS cw,
        |          list_dot_product(s.emb[u.sub*8+1 : u.sub*8+8],
        |                           s.emb[u.sub*8+1 : u.sub*8+8]) AS cw_sq
        |        FROM seed s, UNNEST(generate_series(0, 7)) AS u(sub)),
        |sv AS (SELECT e.vec_id, u.sub, e.emb[u.sub*8+1 : u.sub*8+8] AS sv
        |       FROM e, UNNEST(generate_series(0, 7)) AS u(sub)),
        |enc AS (SELECT vec_id, sub, code_id, cw_sq FROM (
        |  SELECT sv.vec_id, sv.sub, cbq.code_id, cbq.cw_sq,
        |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
        |      ORDER BY 2*list_dot_product(sv.sv, cbq.cw) - cbq.cw_sq DESC,
        |               cbq.code_id) AS rk
        |  FROM sv JOIN cbq ON sv.sub = cbq.sub) WHERE rk = 1),
        |pn AS (SELECT vec_id, sqrt(sum(cw_sq)) AS pq_norm FROM enc GROUP BY vec_id),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qa AS (SELECT q_id, c_id AS cluster FROM (
        |  SELECT q.q_id, c.c_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM q, c) WHERE rk <= 4),
        |qn AS (SELECT q_id, sqrt(list_dot_product(q_vec, q_vec)) AS qn FROM q),
        |adc AS (SELECT qa.q_id, en.vec_id,
        |          sum(list_dot_product(q.q_vec[en.sub*8+1 : en.sub*8+8], cbq.cw)) AS num
        |        FROM qa JOIN da ON qa.cluster = da.cluster
        |        JOIN enc en ON en.vec_id = da.vec_id
        |        JOIN cbq ON cbq.sub = en.sub AND cbq.code_id = en.code_id
        |        JOIN q ON q.q_id = qa.q_id
        |        WHERE qa.q_id <> da.vec_id
        |        GROUP BY qa.q_id, en.vec_id),
        |short AS (SELECT q_id, vec_id FROM (
        |  SELECT adc.q_id, adc.vec_id,
        |    row_number() OVER (PARTITION BY adc.q_id
        |      ORDER BY adc.num / (qn.qn * pn.pq_norm) DESC, adc.vec_id) AS rk
        |  FROM adc JOIN qn ON qn.q_id = adc.q_id
        |  JOIN pn ON pn.vec_id = adc.vec_id) WHERE rk <= 10),
        |pqr AS (
        |  SELECT s.q_id, s.vec_id,
        |    list_cosine_similarity(q.q_vec, e.emb) AS sim,
        |    CAST(row_number() OVER (PARTITION BY s.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, s.vec_id) AS BIGINT) AS rank
        |  FROM short s JOIN q ON q.q_id = s.q_id
        |  JOIN e ON e.vec_id = s.vec_id)
        |SELECT q_id, vec_id, round(sim, 6) AS sim, rank
        |FROM pqr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "sim_ann_ivfpq_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_vec FROM e WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, emb AS c_vec FROM e ORDER BY vec_id LIMIT 16),
        |da AS (SELECT vec_id, c_id AS cluster FROM (
        |  SELECT e.vec_id, c.c_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, c.c_vec) DESC, c.c_id) AS rk
        |  FROM e, c) WHERE rk = 1),
        |qz AS (SELECT vec_id, CASE WHEN am > 0 THEN 127.0 / am ELSE 0.0 END AS sc
        |       FROM (SELECT vec_id,
        |               list_max(list_transform(emb, x -> abs(x))) AS am FROM e)),
        |codes AS (SELECT e.vec_id,
        |    list_transform(e.emb, x ->
        |      CAST(greatest(-127, least(127, floor(x * qz.sc + 0.5))) AS DOUBLE)) AS code
        |  FROM e JOIN qz ON e.vec_id = qz.vec_id),
        |qa AS (SELECT q_id, c_id AS cluster FROM (
        |  SELECT q.q_id, c.c_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, c.c_vec) DESC, c.c_id) AS rk
        |  FROM q, c) WHERE rk <= 4),
        |cand AS (
        |  SELECT qa.q_id, da.vec_id,
        |         list_cosine_similarity(q.q_vec, codes.code) AS asim
        |  FROM qa JOIN da ON qa.cluster = da.cluster
        |  JOIN q ON q.q_id = qa.q_id
        |  JOIN codes ON codes.vec_id = da.vec_id
        |  WHERE qa.q_id <> da.vec_id),
        |short AS (SELECT q_id, vec_id FROM (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, vec_id) AS rk
        |  FROM cand) WHERE rk <= 10),
        |pq AS (SELECT q_id, vec_id FROM (
        |  SELECT s.q_id, s.vec_id,
        |    row_number() OVER (PARTITION BY s.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, s.vec_id) AS rk
        |  FROM short s JOIN q ON q.q_id = s.q_id
        |  JOIN e ON e.vec_id = s.vec_id) WHERE rk <= 5),
        |brute AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, e.vec_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.q_vec, e.emb) DESC, e.vec_id) AS rk
        |  FROM q, e WHERE e.vec_id <> q.q_id) WHERE rk <= 5)
        |SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS hits
        |FROM brute b LEFT JOIN pq i
        |  ON b.q_id = i.q_id AND b.vec_id = i.vec_id
        |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form features of a constant-color image (color is a pure
    // function of doc_id — mirrors the entry's fixture synthesis); the
    // luma expression keeps the decoder's exact operation order, and the
    // REAL cast collapses to float32 exactly like the decoder's .toFloat
    "multimodal_features_exact" ->
      """WITH c AS (SELECT doc_id, doc_id % 256 AS r, (doc_id*7) % 256 AS g,
        |                  (doc_id*13) % 256 AS b FROM documents),
        |l AS (SELECT *, 0.299*r + 0.587*g + 0.114*b AS luma FROM c)
        |SELECT doc_id, true AS decoded, 16::BIGINT AS width, 16::BIGINT AS height,
        |  round(CAST(r/255.0 AS REAL)::DOUBLE, 6) AS f0,
        |  round(CAST(g/255.0 AS REAL)::DOUBLE, 6) AS f1,
        |  round(CAST(b/255.0 AS REAL)::DOUBLE, 6) AS f2,
        |  0.0::DOUBLE AS f3,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f7
        |FROM l ORDER BY doc_id""".stripMargin,

    // closed form of the entry's constant-gray GFV1 clips: frames
    // k = 0, 2, 4, 6 of n = 3 + doc_id % 5, mean luma = fill/255 exactly
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, n::INT)) AS k FROM d)
        |SELECT doc_id, true AS decoded, CAST(k AS BIGINT) AS frame_idx,
        |  CAST(n AS BIGINT) AS n_frames, 4::BIGINT AS width,
        |  4::BIGINT AS height,
        |  round(((doc_id * 31 + k * 7) % 256) / 255.0, 6) AS mean_luma
        |FROM f WHERE k % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // closed form of the entry's constant-gray MJPEG-AVI clips: JPEG
    // quality 1.0 makes the constant frames decode bit-exactly, so the
    // twin is pure arithmetic — frames k = 0, 2, 4 of n = 2 + doc_id % 4
    "multimodal_frames_avi" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, n::INT)) AS k FROM d)
        |SELECT doc_id, true AS decoded, CAST(k AS BIGINT) AS frame_idx,
        |  CAST(n AS BIGINT) AS n_frames, 8::BIGINT AS width,
        |  8::BIGINT AS height,
        |  round(((doc_id * 37 + k * 11) % 256) / 255.0, 6) AS mean_luma
        |FROM f WHERE k % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // closed form of the constant-gray GIF clips (palette-lossless →
    // luma exactly the fill): frames k = 0, 2 of n = 2 + doc_id % 3
    "multimodal_frames_gif" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n FROM documents),
        |f AS (SELECT doc_id, n, unnest(range(0, n::INT)) AS k FROM d)
        |SELECT doc_id, true AS decoded, CAST(k AS BIGINT) AS frame_idx,
        |  CAST(n AS BIGINT) AS n_frames, 6::BIGINT AS width,
        |  6::BIGINT AS height,
        |  round(((doc_id * 41 + k * 13) % 256) / 255.0, 6) AS mean_luma
        |FROM f WHERE k % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // every (clip, frame) fill replayed arithmetically — base clips plus
    // the 40 frame-0-perturbed copies — then the same positional voting
    // join and the >= 3 cut
    "dedup_video_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |f0 AS (SELECT doc_id, u.k AS k,
        |         (doc_id * (u.k + 3) * 13 + u.k) % 256 AS l
        |       FROM ids, UNNEST(generate_series(0, 4)) AS u(k)),
        |fc AS (SELECT doc_id + 1000000 AS doc_id, k,
        |         CASE WHEN k = 0 THEN (l + 1) % 256 ELSE l END AS l
        |       FROM f0 WHERE doc_id < 40),
        |af AS (SELECT * FROM f0 UNION ALL SELECT * FROM fc)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS votes
        |FROM af a JOIN af b ON a.k = b.k AND a.l = b.l
        |                   AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin,

    // every per-frame dHash replayed arithmetically (the entry forces
    // frame k of clip id to the 60-bit md5(id*5+k) prefix; copies get
    // frame 0 xor 5 and frame 1 independently re-hashed), then the same
    // per-frame-index 4x16 banding, bit_count <= 3 verify, DISTINCT
    // matched (pair, frame) votes, and the >= 3 cut. f0's doc_id keeps
    // its table prefix in fc: DuckDB lateral aliases would otherwise
    // resolve doc_id to the ALREADY-shifted +1000000 value
    "dedup_video_dhash" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |f0 AS (SELECT doc_id, u.k AS k,
        |         ('0x' || substring(md5(CAST(doc_id*5 + u.k AS VARCHAR)), 1, 15))
        |           ::UBIGINT::BIGINT AS fp
        |       FROM ids, UNNEST(generate_series(0, 4)) AS u(k)),
        |fc AS (SELECT f0.doc_id + 1000000 AS cid, k,
        |         CASE WHEN k = 0 THEN xor(fp, 5::BIGINT)
        |              WHEN k = 1 THEN
        |                ('0x' || substring(md5(CAST(f0.doc_id*5 + 1 AS VARCHAR) || 'x'), 1, 15))
        |                  ::UBIGINT::BIGINT
        |              ELSE fp END AS fp
        |       FROM f0 WHERE f0.doc_id < 40),
        |af AS (SELECT doc_id, k, fp FROM f0
        |       UNION ALL SELECT cid, k, fp FROM fc),
        |blk AS (SELECT doc_id, k, fp, b, (fp >> (b*16)) & 65535 AS key
        |        FROM af CROSS JOIN range(4) rb(b)),
        |v AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.k AS k
        |      FROM blk x JOIN blk y
        |        ON x.k = y.k AND x.b = y.b AND x.key = y.key
        |           AND x.doc_id < y.doc_id
        |      WHERE bit_count(xor(x.fp, y.fp)) <= 3)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS votes
        |FROM v GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY 1, 2""".stripMargin,

    // the entry FORCES each image's dHash to the 60-bit md5(doc_id)
    // prefix (dhashPng construction), so the twin derives the same
    // fingerprints arithmetically — same UBIGINT parse as
    // dedup_simhash_md5 — plants the same 40 xor-5 copies, and re-runs
    // the 4x16-bit banding + bit_count verify in SQL
    "dedup_image_dhash" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::UBIGINT::BIGINT AS fp
        |  FROM documents),
        |u AS (SELECT doc_id, fp FROM f
        |      UNION ALL
        |      SELECT doc_id + 1000000, xor(fp, 5::BIGINT) FROM f
        |      WHERE doc_id < 40),
        |blk AS (SELECT doc_id, fp, b, (fp >> (b*16)) & 65535 AS key
        |        FROM u CROSS JOIN range(4) rb(b)),
        |p AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |        bit_count(xor(x.fp, y.fp))::BIGINT AS hamming
        |      FROM blk x JOIN blk y
        |        ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // the dedup_image_dhash pair derivation + the dedup_keep closure
    // shape: components collapse to min id, non-canonical members drop
    "dedup_image_keep" ->
      """WITH RECURSIVE f AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::UBIGINT::BIGINT AS fp
        |  FROM documents),
        |u AS (SELECT doc_id, fp FROM f
        |      UNION ALL
        |      SELECT doc_id + 1000000, xor(fp, 5::BIGINT) FROM f
        |      WHERE doc_id < 40),
        |blk AS (SELECT doc_id, fp, b, (fp >> (b*16)) & 65535 AS key
        |        FROM u CROSS JOIN range(4) rb(b)),
        |p AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |      FROM blk x JOIN blk y
        |        ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
        |      WHERE bit_count(xor(x.fp, y.fp)) <= 3),
        |e AS (SELECT id_a AS a, id_b AS b FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |r AS (SELECT a, b FROM e
        |      UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |c AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |      FROM r GROUP BY a)
        |SELECT doc_id FROM u
        |WHERE doc_id NOT IN (SELECT doc_id FROM c WHERE doc_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin,

    // closed-form features of a +-0.5 square wave (period a pure function
    // of doc_id): every sample is exactly 0.5 in magnitude, so rms, peak,
    // mean-abs and all quarter-RMS are exactly 0.5; the zero-crossing
    // rate is the integer formula floor((n-1)/(P/2)) / (n-1)
    "multimodal_audio_exact" ->
      """SELECT doc_id, true AS decoded, 8000::BIGINT AS sample_rate,
        |  1::BIGINT AS channels, 800::BIGINT AS n_frames,
        |  0.5::DOUBLE AS f0,
        |  round(CAST((799 // (4 * (1 + doc_id % 4)))::DOUBLE / 799 AS REAL)::DOUBLE, 6) AS f1,
        |  0.5::DOUBLE AS f2, 0.5::DOUBLE AS f3, 0.5::DOUBLE AS f4,
        |  0.5::DOUBLE AS f5, 0.5::DOUBLE AS f6, 0.5::DOUBLE AS f7
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the ENTIRE IMA ADPCM decoder replayed in SQL: the per-doc block
    // headers/nibbles are closed forms of doc_id, and a recursive CTE
    // advances (predictor, stepIndex) through the integer state machine
    // (step table as a list literal, diff = step>>3 + conditional
    // step/step>>1/step>>2, int16 + [0,88] clamps) — then the identical
    // feature math over the decoded dyadic-rational samples
    "multimodal_audio_adpcm" ->
      """WITH RECURSIVE
        |blocks AS (SELECT doc_id, b FROM documents, UNNEST([0, 1]) AS t(b)),
        |dec AS (
        |  SELECT doc_id, b, 0 AS j,
        |    CAST((doc_id*131 + b*17) % 2048 - 1024 AS INT) AS pred,
        |    CAST((doc_id + b*7) % 89 AS INT) AS idx
        |  FROM blocks
        |  UNION ALL
        |  SELECT doc_id, b, j,
        |    greatest(-32768, least(32767,
        |      CASE WHEN n & 8 <> 0 THEN pred - d ELSE pred + d END)) AS pred,
        |    greatest(0, least(88, idx + [-1,-1,-1,-1,2,4,6,8][(n % 8) + 1])) AS idx
        |  FROM (
        |    SELECT doc_id, b, j + 1 AS j, pred, idx, n,
        |      (step >> 3)
        |      + CASE WHEN n & 4 <> 0 THEN step ELSE 0 END
        |      + CASE WHEN n & 2 <> 0 THEN step >> 1 ELSE 0 END
        |      + CASE WHEN n & 1 <> 0 THEN step >> 2 ELSE 0 END AS d
        |    FROM (
        |      SELECT doc_id, b, j, pred, idx,
        |        CAST((doc_id*7 + b*5 + j*3) % 16 AS INT) AS n,
        |        [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
        |         50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
        |         230,253,279,307,337,371,408,449,494,544,598,658,724,796,
        |         876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
        |         2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
        |         7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
        |         20350,22385,24623,27086,29794,32767][idx + 1] AS step
        |      FROM dec WHERE j < 8
        |    )
        |  )
        |),
        |samp AS (SELECT doc_id, b*9 + j AS i, pred / 32768.0 AS s FROM dec),
        |sl AS (SELECT doc_id, i, s,
        |         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp,
        |         least(3, (i*4) // 18) AS q FROM samp),
        |f AS (SELECT doc_id,
        |    sqrt(sum(s*s) / 18) AS rms,
        |    sum(CASE WHEN i > 0 AND ((s >= 0) <> (sp >= 0))
        |        THEN 1 ELSE 0 END) / 17.0 AS zcr,
        |    max(abs(s)) AS peak,
        |    sum(abs(s)) / 18 AS meanabs,
        |    sqrt(sum(CASE WHEN q = 0 THEN s*s END)
        |         / sum(CASE WHEN q = 0 THEN 1 END)) AS r0,
        |    sqrt(sum(CASE WHEN q = 1 THEN s*s END)
        |         / sum(CASE WHEN q = 1 THEN 1 END)) AS r1,
        |    sqrt(sum(CASE WHEN q = 2 THEN s*s END)
        |         / sum(CASE WHEN q = 2 THEN 1 END)) AS r2,
        |    sqrt(sum(CASE WHEN q = 3 THEN s*s END)
        |         / sum(CASE WHEN q = 3 THEN 1 END)) AS r3
        |  FROM sl GROUP BY doc_id)
        |SELECT doc_id, true AS decoded, 8000::BIGINT AS sample_rate,
        |  1::BIGINT AS channels, 18::BIGINT AS n_frames,
        |  round(CAST(rms AS REAL)::DOUBLE, 6) AS f0,
        |  round(CAST(zcr AS REAL)::DOUBLE, 6) AS f1,
        |  round(CAST(peak AS REAL)::DOUBLE, 6) AS f2,
        |  round(CAST(meanabs AS REAL)::DOUBLE, 6) AS f3,
        |  round(CAST(r0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(r1 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(r2 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(r3 AS REAL)::DOUBLE, 6) AS f7
        |FROM f ORDER BY doc_id""".stripMargin,

    // the FLAC stream's decoded samples in closed form: frame 0 is the
    // CONSTANT value, frame 1 the VERBATIM formula, frame 2 the FIXED
    // order-1 recurrence s(i) = s(i-1) + r(i) — a cumulative window sum
    // over the residual formula; then the identical feature math over
    // the exact integer samples (lossless ⇒ order-exact double sums)
    "multimodal_audio_flac" ->
      """WITH base AS (
        |  SELECT d.doc_id, t.i,
        |    sum(CASE WHEN t.i < 128 THEN 0
        |             WHEN t.i = 128 THEN (d.doc_id*17) % 1024 - 512
        |             ELSE (d.doc_id + 3*(t.i - 129)) % 7 - 3 END)
        |      OVER (PARTITION BY d.doc_id ORDER BY t.i
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fixcum
        |  FROM documents d, generate_series(0, 191) AS t(i)),
        |samp AS (
        |  SELECT doc_id, i,
        |    (CASE WHEN i < 64 THEN (doc_id*131) % 4096 - 2048
        |          WHEN i < 128 THEN (doc_id*7 + (i-64)*13) % 4096 - 2048
        |          ELSE fixcum END) / 32768.0 AS s
        |  FROM base),
        |sl AS (SELECT doc_id, i, s,
        |         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp,
        |         least(3, (i*4) // 192) AS q FROM samp),
        |f AS (SELECT doc_id,
        |    sqrt(sum(s*s) / 192) AS rms,
        |    sum(CASE WHEN i > 0 AND ((s >= 0) <> (sp >= 0))
        |        THEN 1 ELSE 0 END) / 191.0 AS zcr,
        |    max(abs(s)) AS peak,
        |    sum(abs(s)) / 192 AS meanabs,
        |    sqrt(sum(CASE WHEN q = 0 THEN s*s END)
        |         / sum(CASE WHEN q = 0 THEN 1 END)) AS r0,
        |    sqrt(sum(CASE WHEN q = 1 THEN s*s END)
        |         / sum(CASE WHEN q = 1 THEN 1 END)) AS r1,
        |    sqrt(sum(CASE WHEN q = 2 THEN s*s END)
        |         / sum(CASE WHEN q = 2 THEN 1 END)) AS r2,
        |    sqrt(sum(CASE WHEN q = 3 THEN s*s END)
        |         / sum(CASE WHEN q = 3 THEN 1 END)) AS r3
        |  FROM sl GROUP BY doc_id)
        |SELECT doc_id, true AS decoded, 8000::BIGINT AS sample_rate,
        |  1::BIGINT AS channels, 192::BIGINT AS n_frames,
        |  round(CAST(rms AS REAL)::DOUBLE, 6) AS f0,
        |  round(CAST(zcr AS REAL)::DOUBLE, 6) AS f1,
        |  round(CAST(peak AS REAL)::DOUBLE, 6) AS f2,
        |  round(CAST(meanabs AS REAL)::DOUBLE, 6) AS f3,
        |  round(CAST(r0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(r1 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(r2 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(r3 AS REAL)::DOUBLE, 6) AS f7
        |FROM f ORDER BY doc_id""".stripMargin,

    // alternating-sign constant-magnitude payloads: every feature is
    // mag/32768 except zcr = 1; the per-lane magnitude replays the
    // G.711 expansion formulas (NOT the tables) or the PCM formula
    "multimodal_audio_containers" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN
        |        (((255 - doc_id % 127) % 16) * 8 + 132)
        |          * (1 << (((255 - doc_id % 127) // 16) % 8)) - 132
        |      WHEN 1 THEN
        |        CASE WHEN ((xor(doc_id % 256, 85) // 16) % 8) > 1
        |             THEN ((xor(doc_id % 256, 85) % 16) * 16 + 264)
        |                  * (1 << (((xor(doc_id % 256, 85) // 16) % 8) - 1))
        |             WHEN ((xor(doc_id % 256, 85) // 16) % 8) = 1
        |             THEN (xor(doc_id % 256, 85) % 16) * 16 + 264
        |             ELSE (xor(doc_id % 256, 85) % 16) * 16 + 8 END
        |      WHEN 2 THEN 1 + (doc_id * 997) % 15000
        |      ELSE 1 + (doc_id * 613) % 12000 END AS mag
        |  FROM documents)
        |SELECT doc_id, true AS decoded, 8000::BIGINT AS sample_rate,
        |  1::BIGINT AS channels, 160::BIGINT AS n_frames,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f0,
        |  1.0::DOUBLE AS f1,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f2,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f3,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(mag / 32768.0 AS REAL)::DOUBLE, 6) AS f7
        |FROM m ORDER BY doc_id""".stripMargin,

    // every probed field in closed form across TEN container lanes:
    // MP3 duration = frames*1152 samples at 44100 Hz (id%10==0 → id
    // even → the mono lane always), MP4 ticks*1000//timescale with
    // 16.16 dims, FLAC STREAMINFO, WAV fmt byte-rate, AVI
    // frames*usPerFrame//1000, GIF per-frame 10 cs delays, AU/AIFF
    // frame counts, Ogg granule math (Vorbis samples at 8 kHz /
    // Opus 48 kHz units less pre-skip), WebM Info duration at the 1 ms
    // TimestampScale; the MPEG1-L3 bitrate table as a list literal
    "multimodal_probe" ->
      """SELECT doc_id, true AS probed,
        |  CASE doc_id % 10 WHEN 0 THEN 'mp3' WHEN 1 THEN 'mp4'
        |    WHEN 2 THEN 'flac' WHEN 3 THEN 'wav' WHEN 4 THEN 'avi'
        |    WHEN 5 THEN 'gif' WHEN 6 THEN 'au' WHEN 7 THEN 'aiff'
        |    WHEN 8 THEN 'ogg'
        |    ELSE CASE WHEN (doc_id // 10) % 2 = 0 THEN 'webm' ELSE 'matroska' END
        |  END AS format,
        |  CASE doc_id % 10 WHEN 0 THEN 'mpeg-layer3' WHEN 1 THEN 'avc1'
        |    WHEN 2 THEN 'flac' WHEN 3 THEN 'pcm' WHEN 4 THEN 'MJPG'
        |    WHEN 5 THEN 'gif-lzw' WHEN 6 THEN 'ulaw' WHEN 7 THEN 'pcm16'
        |    WHEN 8 THEN CASE WHEN (doc_id // 10) % 2 = 0 THEN 'vorbis' ELSE 'opus' END
        |    ELSE CASE WHEN (doc_id // 10) % 2 = 0 THEN 'V_VP8' ELSE 'V_MPEG4/ISO/AVC' END
        |  END AS codec,
        |  CAST(CASE doc_id % 10
        |    WHEN 0 THEN (2 + doc_id % 9) * 1152 * 1000 // 44100
        |    WHEN 1 THEN (1000 + doc_id % 9000) * 1000 // (600 + (doc_id % 7) * 100)
        |    WHEN 2 THEN (16 + doc_id % 49) * 1000 // 8000
        |    WHEN 3 THEN (100 + doc_id % 400) * 2 * 1000 // 16000
        |    WHEN 4 THEN (1 + doc_id % 5) * 33333 // 1000
        |    WHEN 5 THEN (1 + doc_id % 4) * 100
        |    WHEN 6 THEN (160 + doc_id % 80) * 1000 // 8000
        |    WHEN 7 THEN (120 + doc_id % 90) * 1000 // 8000
        |    WHEN 8 THEN CASE WHEN (doc_id // 10) % 2 = 0
        |      THEN (800 + doc_id % 1600) * 1000 // 8000
        |      ELSE 20 * (1 + doc_id % 50) END
        |    ELSE 500 + doc_id % 9000 END AS BIGINT) AS duration_ms,
        |  CAST(CASE doc_id % 10 WHEN 0 THEN 44100
        |    WHEN 1 THEN 0 WHEN 4 THEN 0 WHEN 5 THEN 0 WHEN 9 THEN 0
        |    WHEN 8 THEN CASE WHEN (doc_id // 10) % 2 = 0 THEN 8000
        |      ELSE 16000 + (doc_id % 4) * 8000 END
        |    ELSE 8000 END AS BIGINT) AS sample_rate,
        |  CAST(CASE doc_id % 10 WHEN 1 THEN 0 WHEN 4 THEN 0 WHEN 5 THEN 0
        |    WHEN 9 THEN 0 WHEN 8 THEN 1 + doc_id % 2
        |    ELSE 1 END AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 10
        |    WHEN 0 THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320][(doc_id % 14) + 1]
        |    WHEN 3 THEN 128 WHEN 6 THEN 64 WHEN 7 THEN 128
        |    WHEN 8 THEN CASE WHEN (doc_id // 10) % 2 = 0
        |      THEN 32 + doc_id % 96 ELSE 0 END
        |    ELSE 0 END AS BIGINT) AS bitrate_kbps,
        |  CAST(CASE doc_id % 10 WHEN 1 THEN 16 * (1 + doc_id % 120)
        |    WHEN 4 THEN 8 WHEN 5 THEN 6
        |    WHEN 9 THEN 2 * (1 + doc_id % 960) ELSE 0 END AS BIGINT) AS width,
        |  CAST(CASE doc_id % 10 WHEN 1 THEN 16 * (1 + doc_id % 68)
        |    WHEN 4 THEN 8 WHEN 5 THEN 6
        |    WHEN 9 THEN 2 * (1 + doc_id % 540) ELSE 0 END AS BIGINT) AS height,
        |  CAST(CASE doc_id % 10 WHEN 0 THEN 2 + doc_id % 9
        |    WHEN 2 THEN 16 + doc_id % 49 WHEN 4 THEN 1 + doc_id % 5
        |    WHEN 5 THEN 1 + doc_id % 4 WHEN 6 THEN 160 + doc_id % 80
        |    WHEN 7 THEN 120 + doc_id % 90
        |    WHEN 8 THEN CASE WHEN (doc_id // 10) % 2 = 0
        |      THEN 800 + doc_id % 1600 ELSE 960 * (1 + doc_id % 50) END
        |    ELSE 0 END AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the triage pipeline replayed: the probe FILTER in closed form
    // (which lanes and which ids survive the format + duration window),
    // then the survivors' exact samples (±0.5 squares / direct PCM
    // formula) through the identical feature math
    "multimodal_triage" ->
      """WITH ids AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 3 THEN 100 + doc_id % 400
        |         ELSE 120 + doc_id % 90 END AS n
        |  FROM documents
        |  WHERE (doc_id % 10 = 3 AND (doc_id % 400) BETWEEN 60 AND 267)
        |     OR (doc_id % 10 = 7 AND (doc_id % 90) >= 40)),
        |samp AS (
        |  SELECT ids.doc_id, ids.n, t.i,
        |    CASE WHEN ids.doc_id % 10 = 3
        |         THEN CASE WHEN (t.i % 8) < 4 THEN 0.5 ELSE -0.5 END
        |         ELSE ((ids.doc_id*3 + t.i*7) % 30000 - 15000) / 32768.0 END AS s
        |  FROM ids, generate_series(0, 498) AS t(i) WHERE t.i < ids.n),
        |sl AS (SELECT doc_id, n, i, s,
        |         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp,
        |         least(3, (i*4) // n) AS q FROM samp),
        |f AS (SELECT doc_id, n,
        |    sqrt(sum(s*s) / n) AS rms,
        |    sum(CASE WHEN i > 0 AND ((s >= 0) <> (sp >= 0))
        |        THEN 1 ELSE 0 END) * 1.0 / (n - 1) AS zcr,
        |    max(abs(s)) AS peak,
        |    sum(abs(s)) / n AS meanabs,
        |    sqrt(sum(CASE WHEN q = 0 THEN s*s END)
        |         / sum(CASE WHEN q = 0 THEN 1 END)) AS r0,
        |    sqrt(sum(CASE WHEN q = 1 THEN s*s END)
        |         / sum(CASE WHEN q = 1 THEN 1 END)) AS r1,
        |    sqrt(sum(CASE WHEN q = 2 THEN s*s END)
        |         / sum(CASE WHEN q = 2 THEN 1 END)) AS r2,
        |    sqrt(sum(CASE WHEN q = 3 THEN s*s END)
        |         / sum(CASE WHEN q = 3 THEN 1 END)) AS r3
        |  FROM sl GROUP BY doc_id, n)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 3 THEN 'wav' ELSE 'aiff' END AS format,
        |  CAST(CASE WHEN doc_id % 10 = 3
        |    THEN (100 + doc_id % 400) * 2 * 1000 // 16000
        |    ELSE (120 + doc_id % 90) * 1000 // 8000 END AS BIGINT) AS duration_ms,
        |  true AS decoded, CAST(n AS BIGINT) AS n_frames,
        |  round(CAST(rms AS REAL)::DOUBLE, 6) AS f0,
        |  round(CAST(zcr AS REAL)::DOUBLE, 6) AS f1,
        |  round(CAST(peak AS REAL)::DOUBLE, 6) AS f2,
        |  round(CAST(meanabs AS REAL)::DOUBLE, 6) AS f3,
        |  round(CAST(r0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(r1 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(r2 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(r3 AS REAL)::DOUBLE, 6) AS f7
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
        |        THEN [w[i]||' '||w[i+1]||' '||w[i+2] for i in range(1, len(w)-1)]
        |        ELSE [] END AS gr FROM d)
        |SELECT doc_id, CAST(len(gr) AS BIGINT) AS total_grams,
        |  CAST(len(list_distinct(gr)) AS BIGINT) AS distinct_grams,
        |  CASE WHEN len(gr) > 0
        |       THEN round(1.0 - len(list_distinct(gr)) * 1.0 / len(gr), 6)
        |       ELSE 0.0 END AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]
        |                 for i in range(1, len(w)-2)]) AS gr
        |  FROM d WHERE len(w) >= 4),
        |dg AS (SELECT doc_id, unnest(gr) AS g FROM g),
        |bg AS (SELECT doc_id AS bench_id, unnest(gr) AS g FROM g
        |       WHERE doc_id % 25 = 0)
        |SELECT dg.doc_id, bg.bench_id, count(*) AS shared
        |FROM dg JOIN bg USING (g)
        |WHERE dg.doc_id <> bg.bench_id
        |GROUP BY 1, 2 ORDER BY doc_id, bench_id""".stripMargin,

    // brute-force corpus x benchmark Jaccard over the same trigram
    // shingles — the LSH entry's verified output equals this exactly
    "text_decontaminate_fuzzy" ->
      s"""WITH $NgramJaccardCtes
         |SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
         |  round(len(list_intersect(a.sh, b.sh)) * 1.0
         |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM s a JOIN s b ON b.doc_id % 10 = 0 AND a.doc_id <> b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 1.0
         |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin,

    // the identical BM25 expression tree, constant-by-constant (no
    // hand-folded literals: both engines fold 1.2+1.0 in IEEE double);
    // per-term pivot columns summed in the same fixed order
    "text_bm25" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '') AS w FROM documents),
        |l AS (SELECT doc_id, len(w) AS dl, w FROM d),
        |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM l),
        |t AS (SELECT doc_id, dl, unnest(w) AS t FROM l),
        |hits AS (SELECT doc_id, dl, t, CAST(count(*) AS DOUBLE) AS tf
        |         FROM t WHERE t IN ('dup', 'join', 'window') GROUP BY 1, 2, 3),
        |dfs AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY 1),
        |sc AS (SELECT doc_id, t,
        |    ln(1.0::DOUBLE + (CAST(n AS DOUBLE) - df + 0.5::DOUBLE)
        |                     / (df + 0.5::DOUBLE))
        |    * (tf * (1.2::DOUBLE + 1.0::DOUBLE))
        |    / (tf + 1.2::DOUBLE
        |            * (1.0::DOUBLE - 0.75::DOUBLE
        |               + (0.75::DOUBLE * CAST(dl AS DOUBLE))
        |                 / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))) AS s
        |  FROM hits JOIN dfs USING (t) CROSS JOIN stats),
        |p AS (SELECT doc_id,
        |    max(CASE WHEN t = 'dup' THEN s END) AS s0,
        |    max(CASE WHEN t = 'join' THEN s END) AS s1,
        |    max(CASE WHEN t = 'window' THEN s END) AS s2
        |  FROM sc GROUP BY 1)
        |SELECT doc_id,
        |  round(coalesce(s0, 0.0::DOUBLE) + coalesce(s1, 0.0::DOUBLE)
        |        + coalesce(s2, 0.0::DOUBLE), 6) AS score
        |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // same smoothed-bigram model arithmetic; parallel unnests zip pos
    // with its bigram and context; the ordered-list sum replays Spark's
    // position-sorted left fold
    "text_lm_score" ->
      s"""WITH $LmScoreCtes
         |SELECT doc_id, n_bigrams, avg_logprob, perplexity FROM sc
         |ORDER BY doc_id""".stripMargin,

    // lm_score's model replay, then tertile thresholds over perplexity in
    // integer micro-units (quantile_cont == percentile on integer inputs)
    // broadcast back as head/middle/tail; NULL scores land in 'na'
    "text_ppl_buckets" ->
      s"""WITH $LmScoreCtes,
         |si AS (SELECT sc.*,
         |         CAST(round(perplexity * 1e6) AS BIGINT) AS ppl_int
         |       FROM sc),
         |th AS (SELECT quantile_cont(ppl_int, [1.0/3, 2.0/3]) AS t
         |       FROM si WHERE ppl_int IS NOT NULL)
         |SELECT doc_id, n_bigrams, avg_logprob, perplexity,
         |  CASE WHEN ppl_int IS NULL THEN 'na'
         |       WHEN ppl_int <= t[1] THEN 'head'
         |       WHEN ppl_int <= t[2] THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM si CROSS JOIN th ORDER BY doc_id""".stripMargin,

    // both DSIR models replayed: target counts from the en docs, raw
    // counts from all docs, one shared position stream, the same ordered
    // folds / 6-dp rounds as lm_score, then the 0.75 quantile cut on
    // integer micro-unit weights
    "corpus_dsir" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '') AS w FROM documents),
        |tc1 AS (SELECT w1, count(*) AS c1 FROM
        |        (SELECT unnest(w) AS w1 FROM d WHERE lang = 'en') GROUP BY 1),
        |tv AS (SELECT count(*) AS v FROM tc1),
        |tc12 AS (SELECT g, count(*) AS c12 FROM
        |        (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
        |         FROM d WHERE lang = 'en') GROUP BY 1),
        |rc1 AS (SELECT w1, count(*) AS c1 FROM
        |        (SELECT unnest(w) AS w1 FROM d) GROUP BY 1),
        |rv AS (SELECT count(*) AS v FROM rc1),
        |rc12 AS (SELECT g, count(*) AS c12 FROM
        |        (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
        |         FROM d) GROUP BY 1),
        |p AS (SELECT doc_id,
        |    unnest([i - 1 for i in range(1, len(w))]) AS pos,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g,
        |    unnest([w[i] for i in range(1, len(w))]) AS w1
        |  FROM d WHERE len(w) >= 2),
        |tlp AS (SELECT doc_id, pos,
        |    ln((CAST(coalesce(c12, 0) AS DOUBLE) + 0.5::DOUBLE)
        |       / (CAST(coalesce(c1, 0) AS DOUBLE)
        |          + 0.5::DOUBLE * CAST(v AS DOUBLE))) AS lp
        |  FROM p LEFT JOIN tc12 USING (g) LEFT JOIN tc1 USING (w1)
        |  CROSS JOIN tv),
        |tt AS (SELECT doc_id, count(*) AS n_bigrams,
        |    list_aggregate(list(lp ORDER BY pos), 'sum') AS total
        |  FROM tlp GROUP BY 1),
        |rlp AS (SELECT doc_id, pos,
        |    ln((CAST(coalesce(c12, 0) AS DOUBLE) + 0.5::DOUBLE)
        |       / (CAST(coalesce(c1, 0) AS DOUBLE)
        |          + 0.5::DOUBLE * CAST(v AS DOUBLE))) AS lp
        |  FROM p LEFT JOIN rc12 USING (g) LEFT JOIN rc1 USING (w1)
        |  CROSS JOIN rv),
        |rt AS (SELECT doc_id, count(*) AS n_bigrams,
        |    list_aggregate(list(lp ORDER BY pos), 'sum') AS total
        |  FROM rlp GROUP BY 1),
        |sc AS (SELECT d.doc_id,
        |    CAST(coalesce(tt.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |    round(tt.total / tt.n_bigrams, 6) AS target_lp,
        |    round(rt.total / rt.n_bigrams, 6) AS raw_lp,
        |    round(round(tt.total / tt.n_bigrams, 6)
        |          - round(rt.total / rt.n_bigrams, 6), 6) AS dsir_weight
        |  FROM d LEFT JOIN tt ON d.doc_id = tt.doc_id
        |         LEFT JOIN rt ON d.doc_id = rt.doc_id),
        |wi AS (SELECT sc.*,
        |    CAST(round(dsir_weight * 1e6) AS BIGINT) AS w_int FROM sc),
        |th AS (SELECT quantile_cont(w_int, 0.75) AS t FROM wi
        |       WHERE w_int IS NOT NULL)
        |SELECT doc_id, n_bigrams, target_lp, raw_lp, dsir_weight,
        |  (w_int IS NOT NULL AND w_int >= t) AS selected
        |FROM wi CROSS JOIN th ORDER BY doc_id""".stripMargin,

    // parallel unnests zip: pos (0-based, matching posexplode) pairs with
    // its 8-gram; islands via the same pos - row_number() grouping
    "text_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |  unnest([i - 1 for i in range(1, len(w) - 6)]) AS pos,
        |  unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |          ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
        |          for i in range(1, len(w) - 6)]) AS gram
        |  FROM d WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |        GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
        |nf AS (SELECT doc_id, pos,
        |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |             THEN 0 ELSE 1 END AS brk
        |       FROM h),
        |i AS (SELECT doc_id, pos,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM nf)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_len_tokens,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM i GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    // per-gram ownership (min doc id per duplicated gram): a position
    // drops iff covered by a non-owned window and by NO owned window —
    // then word anti-join and ordered rebuild
    "text_dup_spans_drop" ->
      """WITH d AS (SELECT doc_id, text,
        |             string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |  unnest([i - 1 for i in range(1, len(w) - 6)]) AS pos,
        |  unnest([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |          ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
        |          for i in range(1, len(w) - 6)]) AS gram
        |  FROM d WHERE len(w) >= 8),
        |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        |        GROUP BY gram HAVING count(*) >= 2),
        |h AS (SELECT doc_id, pos, gram FROM g
        |      WHERE gram IN (SELECT gram FROM dup)),
        |own AS (SELECT gram, min(doc_id) AS owner FROM h GROUP BY 1),
        |cv AS (SELECT h.doc_id, (h.doc_id = own.owner) AS owned,
        |         unnest(generate_series(h.pos, h.pos + 7)) AS pos
        |       FROM h JOIN own USING (gram)),
        |no AS (SELECT DISTINCT doc_id, pos FROM cv WHERE NOT owned),
        |ow AS (SELECT DISTINCT doc_id, pos FROM cv WHERE owned),
        |dr AS (SELECT no.doc_id, no.pos FROM no
        |       ANTI JOIN ow ON no.doc_id = ow.doc_id AND no.pos = ow.pos),
        |tch AS (SELECT DISTINCT doc_id FROM dr),
        |wp AS (SELECT d.doc_id,
        |         unnest([i - 1 for i in range(1, len(w) + 1)]) AS pos,
        |         unnest(w) AS word
        |       FROM d JOIN tch ON d.doc_id = tch.doc_id),
        |kp AS (SELECT wp.doc_id,
        |         string_agg(word, ' ' ORDER BY pos) AS clean
        |       FROM wp ANTI JOIN dr
        |         ON wp.doc_id = dr.doc_id AND wp.pos = dr.pos
        |       GROUP BY 1),
        |rm AS (SELECT doc_id, count(*) AS removed FROM dr GROUP BY 1),
        |rb AS (SELECT rm.doc_id, coalesce(kp.clean, '') AS clean, rm.removed
        |       FROM rm LEFT JOIN kp USING (doc_id))
        |SELECT documents.doc_id, coalesce(rb.clean, documents.text) AS text,
        |  CAST(coalesce(rb.removed, 0) AS BIGINT) AS removed_tokens
        |FROM documents LEFT JOIN rb ON documents.doc_id = rb.doc_id
        |ORDER BY documents.doc_id""".stripMargin,

    "corpus_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
        |ORDER BY doc_id""".stripMargin,

    // cumulative hexRate bands: round(0.8*65536)=52429=0xcccd,
    // round(0.9*65536)=58982=0xe666; test takes the remainder band
    "corpus_split" ->
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the shared quality-score replay carrying source, then per-source
    // quantile_cont(score, 0.2) thresholds and the >= filter
    "corpus_quality_gate" ->
      s"""WITH ${gateCtes("documents", ", source")},
         |sc2 AS (SELECT doc_id, source, quality_score,
         |          CAST(round(quality_score * 1e6) AS BIGINT) AS sc_int
         |        FROM q),
         |th AS (SELECT source, quantile_cont(sc_int, 0.2) AS t
         |       FROM sc2 WHERE sc_int IS NOT NULL GROUP BY source)
         |SELECT doc_id, source, quality_score
         |FROM sc2 JOIN th USING (source)
         |WHERE sc_int >= t ORDER BY doc_id""".stripMargin,

    // same 60-bit md5-prefix parse as the simhash twin; % on the nonneg
    // 60-bit key == Spark's pmod
    "corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    ('0x' || substring(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::UBIGINT::BIGINT AS key
        |  FROM documents)
        |SELECT doc_id, key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
        |       AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,

    // per-language tertiles: same replay, thresholds GROUP BY lang.
    // Docs without a threshold row — NULL score, or a NULL lang the
    // equi-join can never match — are 'na', mirroring the operator
    "text_ppl_buckets_lang" ->
      s"""WITH $LmScoreCtes,
         |si AS (SELECT sc.*, d2.lang,
         |         CAST(round(perplexity * 1e6) AS BIGINT) AS ppl_int
         |       FROM sc JOIN documents d2 USING (doc_id)),
         |th AS (SELECT lang, quantile_cont(ppl_int, [1.0/3, 2.0/3]) AS t
         |       FROM si WHERE ppl_int IS NOT NULL GROUP BY lang)
         |SELECT doc_id, lang, n_bigrams, avg_logprob, perplexity,
         |  CASE WHEN ppl_int IS NULL OR t[1] IS NULL THEN 'na'
         |       WHEN ppl_int <= t[1] THEN 'head'
         |       WHEN ppl_int <= t[2] THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM si LEFT JOIN th USING (lang) ORDER BY doc_id""".stripMargin,

    // corpus_split's bands keyed on coalesce(near-dup canonical, own id):
    // cluster members share the key, so they share the split
    "corpus_split_safe" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes,
         |k AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS sk
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id,
         |  CASE WHEN substring(md5(CAST(sk AS VARCHAR)), 1, 4) < 'cccd'
         |         THEN 'train'
         |       WHEN substring(md5(CAST(sk AS VARCHAR)), 1, 4) < 'e666'
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |FROM k ORDER BY doc_id""".stripMargin,

    "corpus_cube" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(grouping(lang) AS BIGINT) AS g_lang,
        |  CAST(grouping(source) AS BIGINT) AS g_source
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,

    "corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> ''))) AS BIGINT) AS total_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  round(quantile_cont(length(text), 0.5), 6) AS p50_chars,
        |  round(quantile_cont(length(text), 0.9), 6) AS p90_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // per-source counts -> K = min(n/w) -> rate = K*w/n, then the same
    // %04x threshold derivation Corpus.hexRate performs (round half-up
    // matches DuckDB round for positives; rate >= 1.0 -> 'g' keeps all)
    "corpus_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |    power(2, CAST(substr(source, 4) AS INT) % 3) AS w
        |  FROM documents GROUP BY source),
        |k AS (SELECT min(n / w) AS k FROM c),
        |r AS (SELECT source,
        |    least(CAST(1.0 AS DOUBLE), k.k * w / n) AS rate FROM c, k),
        |t AS (SELECT source,
        |    CASE WHEN CAST(round(rate * 65536) AS INT) >= 65536 THEN 'g'
        |         ELSE printf('%04x', CAST(round(rate * 65536) AS INT)) END AS th
        |  FROM r)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN t USING (source)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th
        |ORDER BY doc_id""".stripMargin,

    // exp-weights from the planted losses, then the same scale-invariant
    // rate arithmetic and md5-threshold sampler as corpus_mix
    "corpus_doremi" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |    exp(((CAST(substr(source, 4) AS INT) % 5) * 0.2) / 0.5) AS w
        |  FROM documents GROUP BY source),
        |k AS (SELECT min(n / w) AS k FROM c),
        |r AS (SELECT source,
        |    least(CAST(1.0 AS DOUBLE), k.k * w / n) AS rate FROM c, k),
        |t AS (SELECT source,
        |    CASE WHEN CAST(round(rate * 65536) AS INT) >= 65536 THEN 'g'
        |         ELSE printf('%04x', CAST(round(rate * 65536) AS INT)) END AS th
        |  FROM r)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN t USING (source)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < th
        |ORDER BY doc_id""".stripMargin,

    // round-trip identity: good rows = the documents table verbatim
    // (md5-bound), quarantine count = the 2 planted broken lines
    "corpus_jsonl" ->
      """SELECT doc_id, md5(text) AS receipt FROM documents
        |UNION ALL SELECT -1, '2'
        |ORDER BY doc_id""".stripMargin,

    // WARC round-trip: every response record's HTTP body is the planted
    // closed-form HTML wrapper of the document text, byte-exact through
    // the gzip-member and plain lanes alike; request/warcinfo records
    // were filtered by type
    "corpus_warc" ->
      """SELECT doc_id, CAST(200 AS BIGINT) AS status,
        |  'text/html; charset=utf-8' AS ctype,
        |  '<html><body><p>' || text || '</p></body></html>' AS html
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the crawl pipeline replayed stage by stage: the planted wrapper,
    // the full strip chain (document text may contain markup of its
    // own), whitespace token count, and the >= 5 gate
    "corpus_crawl_pipeline" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        h,
        |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<', 'g'),
        |        '&gt;', '>', 'g'),
        |        '&quot;', '"', 'g'),
        |        '&#39;', '''', 'g'),
        |        '&nbsp;', ' ', 'g'),
        |        '&amp;', '&', 'g'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM p),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN clean = '' THEN 0
        |         ELSE len(string_split(clean, ' ')) END AS n_tokens,
        |    md5(clean) AS receipt
        |  FROM c)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, receipt
        |FROM t WHERE n_tokens >= 5 ORDER BY doc_id""".stripMargin,

    // the PDF extraction replayed in SQL: closed-form page texts
    // (string_agg over generate_series mirrors the Td/Tj line rules),
    // encrypted lane -> one flagged quarantine row, garbage lane ->
    // one not-pdf row; 13 beats 17 beats 7 in lane priority exactly
    // as the fixture builds them
    "corpus_pdf_text" ->
      """WITH ok_ids AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 13 <> 0 AND doc_id % 17 <> 0),
        |pg AS (
        |  SELECT o.doc_id, CAST(t.p AS BIGINT) AS page,
        |    1 + CAST(o.doc_id % 3 AS BIGINT) AS n_pages
        |  FROM ok_ids o, generate_series(1, 3) t(p)
        |  WHERE t.p <= 1 + o.doc_id % 3),
        |ln AS (
        |  SELECT pg.doc_id, pg.page, pg.n_pages, t.k,
        |    'doc ' || pg.doc_id || ' (page ' || pg.page || ') line ' || t.k AS line
        |  FROM pg, generate_series(1, 3) t(k)
        |  WHERE t.k <= 1 + (pg.doc_id + pg.page) % 3),
        |tx AS (
        |  SELECT doc_id, page, n_pages,
        |    string_agg(line, chr(10) ORDER BY k) AS text
        |  FROM ln GROUP BY doc_id, page, n_pages)
        |SELECT doc_id, true AS ok, n_pages, page, text,
        |  false AS flagged, CAST(NULL AS VARCHAR) AS reason FROM tx
        |UNION ALL
        |SELECT doc_id, false, CAST(0 AS BIGINT), NULL, NULL, true, 'encrypted'
        |FROM documents WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, false, CAST(0 AS BIGINT), NULL, NULL, false, 'not-pdf'
        |FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 17 = 0
        |ORDER BY doc_id, page""".stripMargin,

    // decryptable lanes replay the closed-form page texts; the
    // password-protected lane keeps its quarantine row
    "corpus_pdf_encrypted" ->
      """WITH ok_ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 11 <> 0),
        |pg AS (
        |  SELECT o.doc_id, CAST(t.p AS BIGINT) AS page,
        |    1 + CAST(o.doc_id % 3 AS BIGINT) AS n_pages
        |  FROM ok_ids o, generate_series(1, 3) t(p)
        |  WHERE t.p <= 1 + o.doc_id % 3),
        |ln AS (
        |  SELECT pg.doc_id, pg.page, pg.n_pages, t.k,
        |    'doc ' || pg.doc_id || ' (page ' || pg.page || ') line ' || t.k AS line
        |  FROM pg, generate_series(1, 3) t(k)
        |  WHERE t.k <= 1 + (pg.doc_id + pg.page) % 3),
        |tx AS (
        |  SELECT doc_id, page, n_pages,
        |    string_agg(line, chr(10) ORDER BY k) AS text
        |  FROM ln GROUP BY doc_id, page, n_pages)
        |SELECT doc_id, true AS ok, n_pages, page, text,
        |  false AS flagged, CAST(NULL AS VARCHAR) AS reason FROM tx
        |UNION ALL
        |SELECT doc_id, false, CAST(0 AS BIGINT), NULL, NULL, true, 'encrypted'
        |FROM documents WHERE doc_id % 11 = 0
        |ORDER BY doc_id, page""".stripMargin,

    // the CMap-mapped text is the closed form itself
    "corpus_pdf_cid" ->
      """SELECT doc_id, 'cid document ' || doc_id || ' has mapped text' AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // page/token arithmetic replayed: each page has 1+(id+p)%3 lines of
    // six whitespace tokens; quarantine lanes keep their typed reasons
    "corpus_pdf_pipeline" ->
      """WITH ok_ids AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 13 <> 0 AND doc_id % 17 <> 0),
        |pg AS (
        |  SELECT o.doc_id, CAST(t.p AS BIGINT) AS page,
        |    1 + CAST(o.doc_id % 3 AS BIGINT) AS n_pages,
        |    CAST(6 * (1 + (o.doc_id + t.p) % 3) AS BIGINT) AS n_tokens
        |  FROM ok_ids o, generate_series(1, 3) t(p)
        |  WHERE t.p <= 1 + o.doc_id % 3)
        |SELECT doc_id, true AS ok, n_pages, page, n_tokens,
        |  false AS flagged, CAST(NULL AS VARCHAR) AS reason FROM pg
        |UNION ALL
        |SELECT doc_id, false, CAST(0 AS BIGINT), NULL, NULL, true, 'encrypted'
        |FROM documents WHERE doc_id % 13 = 0
        |UNION ALL
        |SELECT doc_id, false, CAST(0 AS BIGINT), NULL, NULL, false, 'not-pdf'
        |FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 17 = 0
        |ORDER BY doc_id, page""".stripMargin,

    // probe fields in closed form: version by layout lane, encrypted
    // flag folded into codec, frames = page count, MediaBox 612x792
    // on every extractable lane; the garbage lane is the probe's
    // unknown row (nulls, probed=false)
    "multimodal_probe_pdf" ->
      """SELECT doc_id,
        |  (doc_id % 13 = 0 OR doc_id % 17 <> 0) AS probed,
        |  CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 = 0 THEN 'unknown'
        |       ELSE 'pdf' END AS format,
        |  CASE WHEN doc_id % 13 = 0 THEN '1.4/encrypted'
        |       WHEN doc_id % 17 = 0 THEN CAST(NULL AS VARCHAR)
        |       WHEN doc_id % 7 = 0 THEN '1.5'
        |       ELSE '1.4' END AS codec,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |       WHEN doc_id % 17 = 0 THEN NULL
        |       ELSE 612 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |       WHEN doc_id % 17 = 0 THEN NULL
        |       ELSE 792 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |       WHEN doc_id % 17 = 0 THEN NULL
        |       ELSE 1 + doc_id % 3 END AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // image probe fields in closed form: dims by lane arithmetic, codec
    // by encoder reality (JDK JPEG = baseline 3-component, JDK PNG on
    // TYPE_INT_RGB = rgb8 non-interlaced, JDK BMP = 24bpp uncompressed),
    // WebP variant by (doc_id // 4) % 3 with ANMF counts on the anim lane
    "multimodal_probe_images" ->
      """SELECT doc_id, true AS probed,
        |  CASE doc_id % 6 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
        |    WHEN 2 THEN 'webp' WHEN 3 THEN 'bmp' WHEN 4 THEN 'tiff'
        |    ELSE CASE WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heif' END
        |  END AS format,
        |  CASE doc_id % 6 WHEN 0 THEN 'baseline' WHEN 1 THEN 'rgb8'
        |    WHEN 2 THEN CASE CAST(doc_id // 6 % 3 AS INT)
        |      WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x-anim' END
        |    WHEN 3 THEN 'rgb24'
        |    WHEN 4 THEN CASE CAST(doc_id // 6 % 3 AS INT)
        |      WHEN 0 THEN 'none8' WHEN 1 THEN 'lzw' ELSE 'deflate' END
        |    ELSE CASE WHEN doc_id % 2 = 0 THEN 'av01' ELSE 'hvc1' END
        |  END AS codec,
        |  CAST(CASE WHEN doc_id % 6 = 5 THEN 16 * (8 + doc_id % 40)
        |       ELSE 8 + doc_id % 40 END AS BIGINT) AS width,
        |  CAST(CASE WHEN doc_id % 6 = 5 THEN 16 * (6 + doc_id % 30)
        |       ELSE 6 + doc_id % 30 END AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 6 = 2 AND doc_id // 6 % 3 = 2
        |         THEN 1 + doc_id % 5
        |       WHEN doc_id % 6 = 4 THEN 1 + doc_id % 4
        |       ELSE 1 END AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // archive probe fields in closed form: gzip ISIZE = the padded
    // content length, zstd FCS by field-width lane, xz check type,
    // bzip2 level
    "multimodal_probe_archives" ->
      """SELECT doc_id, true AS probed,
        |  CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'zstd'
        |    WHEN 2 THEN 'xz' ELSE 'bzip2' END AS format,
        |  CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN doc_id % 3 = 0 THEN 'deflate/named'
        |                     ELSE 'deflate' END
        |    WHEN 1 THEN CASE CAST(doc_id // 4 % 3 AS INT)
        |      WHEN 0 THEN 'zstd/single-segment'
        |      WHEN 1 THEN 'zstd/checksum' ELSE 'zstd' END
        |    WHEN 2 THEN CASE CAST(doc_id % 3 AS INT)
        |      WHEN 0 THEN 'lzma2/none' WHEN 1 THEN 'lzma2/crc32'
        |      ELSE 'lzma2/crc64' END
        |    ELSE 'bwt' || (1 + doc_id % 9) END AS codec,
        |  CAST(CASE doc_id % 4
        |    WHEN 0 THEN 10 + doc_id % 90
        |    WHEN 1 THEN CASE CAST(doc_id // 4 % 3 AS INT)
        |      WHEN 0 THEN doc_id % 200
        |      WHEN 1 THEN 256 + doc_id % 500
        |      ELSE 100000 + doc_id END
        |    ELSE 0 END AS BIGINT) AS frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the image triage replayed: the probe filter in closed form (which
    // lanes and ids survive the lossless-format + dims window), then the
    // survivors' exact constant-image features through the same channel
    // arithmetic as multimodal_features_exact
    "multimodal_triage_images" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 1 THEN 'png' ELSE 'bmp' END AS format,
        |    8 + doc_id % 40 AS w, 6 + doc_id % 30 AS h,
        |    CASE WHEN doc_id % 6 = 1 THEN doc_id % 256
        |         ELSE 30 + doc_id % 200 END AS r,
        |    CASE WHEN doc_id % 6 = 1 THEN (doc_id*7) % 256
        |         ELSE 30 + doc_id % 200 END AS g,
        |    CASE WHEN doc_id % 6 = 1 THEN (doc_id*13) % 256
        |         ELSE 30 + doc_id % 200 END AS b
        |  FROM documents
        |  WHERE doc_id % 6 IN (1, 3) AND (doc_id % 40) BETWEEN 12 AND 32),
        |l AS (SELECT *, 0.299*r + 0.587*g + 0.114*b AS luma FROM k)
        |SELECT doc_id, format, true AS decoded,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  round(CAST(r/255.0 AS REAL)::DOUBLE, 6) AS f0,
        |  round(CAST(g/255.0 AS REAL)::DOUBLE, 6) AS f1,
        |  round(CAST(b/255.0 AS REAL)::DOUBLE, 6) AS f2,
        |  0.0::DOUBLE AS f3,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f4,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f5,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f6,
        |  round(CAST(luma/255.0 AS REAL)::DOUBLE, 6) AS f7
        |FROM l ORDER BY doc_id""".stripMargin,

    // four wire encodings, one decoded string: the text column is the
    // SAME closed form for every lane, the charset column is the
    // canonical name the label resolved to (default lane -> UTF-8)
    "corpus_warc_text" ->
      """WITH t AS (SELECT doc_id, 'döc ' || doc_id || ': æøå ñ ü é' AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 4 THEN '<html><head><meta charset="windows-1252"></head><body>'
        |      || txt || '</body></html>'
        |    WHEN 6 THEN '<html><head><meta charset="windows-1252"></head><body>'
        |      || txt || '</body></html>'
        |    WHEN 5 THEN '<html><head><meta http-equiv="Content-Type" '
        |      || 'content="text/html; charset=ISO-8859-1"></head><body>'
        |      || txt || '</body></html>'
        |    ELSE txt END AS text,
        |  CASE doc_id % 8 WHEN 1 THEN 'ISO-8859-1' WHEN 2 THEN 'windows-1252'
        |    WHEN 4 THEN 'windows-1252' WHEN 5 THEN 'ISO-8859-1'
        |    ELSE 'UTF-8' END AS charset
        |FROM t ORDER BY doc_id""".stripMargin,

    // same construction: edits flip the normalized-text md5, removals
    // and additions fall out of the full outer join
    "corpus_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 10 = 7 THEN text || ' edited v2' ELSE text END,
        |      '\s+', ' ', 'g')))) AS f
        |  FROM documents WHERE doc_id < 450
        |  UNION ALL
        |  SELECT doc_id + 10000,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |  FROM documents WHERE doc_id < 20)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.f <> n.f THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // epochs by source index mod 4: 0.5 / 1.25 / 2.0 / 2.75 — floor
    // copies plus a hardcoded dyadic hash-band threshold for the partial
    // epoch (8000/4000/0000/c000 = frac * 0x10000 exactly)
    "corpus_epochs" ->
      """WITH s AS (
        |  SELECT doc_id, source, CAST(substr(source, 4) AS INT) % 4 AS m,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source,
        |    (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END)
        |    + (CASE WHEN h < (CASE m WHEN 0 THEN '8000' WHEN 1 THEN '4000'
        |                           WHEN 2 THEN '0000' ELSE 'c000' END)
        |       THEN 1 ELSE 0 END) AS cnt
        |  FROM s)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(0, cnt - 1)) AS BIGINT) AS epoch
        |FROM n
        |ORDER BY doc_id, epoch""".stripMargin,

    // planted boilerplate construction shared with the Spark side; pos is
    // 1-based here vs posexplode's 0-based — internal only, ordering is
    // identical. string_agg skips the NULLs the CASE leaves for dropped
    // lines but keeps genuinely empty kept lines; a doc whose every line
    // dropped gets '' via COALESCE (matching array_join over [])
    "text_dedup_lines" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'nav menu ' || (doc_id % 5) || chr(10) ||
        |    'section ' || (doc_id % 97) || chr(10) ||
        |    text || chr(10) || 'copyright footer' AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM d),
        |n AS (SELECT doc_id, pos, line, trim(line) AS nrm FROM l),
        |b AS (
        |  SELECT nrm FROM (SELECT DISTINCT doc_id, nrm FROM n WHERE nrm <> '')
        |  GROUP BY nrm HAVING count(*) >= 20)
        |SELECT n.doc_id,
        |  COALESCE(string_agg(CASE WHEN b.nrm IS NULL THEN n.line END,
        |    chr(10) ORDER BY n.pos), '') AS text_clean,
        |  CAST(count(*) FILTER (WHERE b.nrm IS NULL) AS BIGINT) AS lines_kept,
        |  CAST(count(*) FILTER (WHERE b.nrm IS NOT NULL) AS BIGINT) AS lines_dropped
        |FROM n LEFT JOIN b ON n.nrm = b.nrm
        |GROUP BY n.doc_id ORDER BY doc_id""".stripMargin,

    // exclusive running token sum in doc_id order; integer // division
    // (sum(BIGINT) is HUGEINT in DuckDB — cast back before compare)
    "corpus_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(off AS BIGINT) AS stream_offset,
        |  CAST(off // 2048 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // per-source rank + one exact IEEE division per row — the same
    // stride-scheduling virtual time the engine emits
    "corpus_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank,
        |    1.0 + CAST(substr(source, 4) AS INT) % 3 AS w
        |  FROM documents)
        |SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
        |  round(src_rank / w, 6) AS vt
        |FROM r ORDER BY doc_id""".stripMargin,

    // per-shard receipts over the same prefix-sum layout corpus_pack pins
    "corpus_shards_roundtrip" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM t)
        |SELECT CAST(off // 2048 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |  CAST(min(off) AS BIGINT) AS first_offset
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_topk" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source, length(text) AS cl,
        |    len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS wc,
        |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS pc,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS sc
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN wc > 0 AND cl > 0 THEN
        |      round(0.4 * least(wc / 100.0, 1.0) + 0.4 * (sc * 1.0 / wc)
        |            + 0.2 * (1.0 - pc * 1.0 / cl), 6)
        |    ELSE 0.0 END AS quality_score
        |  FROM f),
        |r AS (
        |  SELECT lang, source, doc_id, quality_score,
        |    CAST(row_number() OVER (PARTITION BY lang, source
        |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
        |  FROM q)
        |SELECT lang, source, doc_id, quality_score, rank
        |FROM r WHERE rank <= 3 ORDER BY lang, source, rank""".stripMargin,

    // sliding-window chunking twin: DuckDB range(0, len, stride) is the
    // non-empty start list; the WHERE mirrors the redundant-tail rule
    // (a start s>0 with s+overlap >= len is contained in the previous
    // chunk); list slice clamps like Spark's
    "corpus_chunk" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w, unnest(range(0, len(w), 48)) AS st FROM d)
        |SELECT doc_id, (st // 48)::BIGINT AS chunk_id,
        |  array_to_string(w[st+1 : st+64], ' ') AS chunk_text,
        |  least(len(w) - st, 64)::BIGINT AS n_tokens
        |FROM s WHERE st = 0 OR st + 16 < len(w)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // the chunk twin's start list + tail rule feeding the corpus_pack
    // running-sum twin, keyed by doc_id*100000 + chunk_id
    // stride 2, window 3 over a = doc_id%7+1 one-token (" the") words:
    // starts 0,2,4,... kept while in range and not a redundant tail
    // (st=0 or st+overlap < a); chunk text is a repeat of the token
    "corpus_chunk_bpe_exact" ->
      """WITH d AS (SELECT doc_id, (doc_id % 7 + 1) AS a FROM documents),
        |s AS (SELECT doc_id, a, unnest(range(0, a, 2)) AS st FROM d)
        |SELECT doc_id, CAST(st // 2 AS BIGINT) AS chunk_id,
        |  repeat(' the', CAST(least(3, a - st) AS INT)) AS chunk_text,
        |  CAST(least(3, a - st) AS BIGINT) AS n_tokens
        |FROM s WHERE st = 0 OR st + 1 < a
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "corpus_chunk_pack" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |s AS (SELECT doc_id, w, unnest(range(0, len(w), 48)) AS st FROM d),
        |ch AS (SELECT doc_id * 100000 + (st // 48) AS chunk_key,
        |         least(len(w) - st, 64)::BIGINT AS n_tokens
        |       FROM s WHERE st = 0 OR st + 16 < len(w)),
        |c AS (SELECT chunk_key, n_tokens,
        |        COALESCE(sum(n_tokens) OVER (ORDER BY chunk_key
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |      FROM ch)
        |SELECT chunk_key, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(off AS BIGINT) AS stream_offset,
        |  CAST(off // 256 AS BIGINT) AS shard_id
        |FROM c ORDER BY chunk_key""".stripMargin,

    "text_vocab" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |g AS (SELECT term, doc_id, count(*) AS c FROM t GROUP BY term, doc_id),
        |v AS (SELECT term, sum(c)::BIGINT AS tf, count(*)::BIGINT AS df
        |      FROM g GROUP BY term)
        |SELECT term, tf, df FROM v WHERE df >= 2
        |ORDER BY tf DESC, term LIMIT 500""".stripMargin,

    // the batch semantics of streamingCurate: (event time, id)-minimal
    // row per fingerprint, then the same quality/langid gate as
    // corpus_curate; event time = (doc_id*37) % 1000 mirrors the entry
    "corpus_curate_stream" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |    (doc_id * 37) % 1000 AS et
         |  FROM documents),
         |k AS (SELECT doc_id, text, fp,
         |        row_number() OVER (PARTITION BY fp ORDER BY et, doc_id) AS rn
         |      FROM d),
         |${gateCtes("k WHERE rn = 1", ", fp")}
         |SELECT doc_id, fp, pred_lang, quality_score FROM q
         |WHERE quality_score >= 0.4 AND pred_lang <> 'unknown'
         |ORDER BY doc_id""".stripMargin,

    // quality/langid gate ∘ near-dup transitive-closure drop — stages
    // mirror text_quality, text_langid and dedup_keep exactly
    "corpus_curate" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes,
         |${gateCtes("documents")}
         |SELECT doc_id, pred_lang, quality_score FROM q
         |WHERE quality_score >= 0.4 AND pred_lang <> 'unknown'
         |  AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,

    // corpus_curate's gate + closure, then corpus_split's bands, then
    // integer-exact per-split receipts
    "corpus_pipeline" ->
      s"""WITH RECURSIVE $NgramJaccardCtes,
         |$NearDupClosureCtes,
         |${gateCtes("documents")},
         |kept AS (
         |  SELECT doc_id FROM q
         |  WHERE quality_score >= 0.4 AND pred_lang <> 'unknown'
         |    AND doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)),
         |sp AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |      ::UBIGINT::BIGINT AS fp,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
         |           THEN 'train'
         |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM kept)
         |SELECT split, count(*) AS n_docs, min(doc_id) AS min_id,
         |  max(doc_id) AS max_id, CAST(sum(doc_id) AS BIGINT) AS sum_id,
         |  CAST(bit_xor(fp) AS BIGINT) AS xor_fp
         |FROM sp GROUP BY split ORDER BY split""".stripMargin
  )

  /** The quality/langid gate CTE chain (f/n/q) shared by the
    * curate-family twins — ONE definition of the stopword lists and the
    * score formula, so no twin can silently assert a different gate.
    * `src`: the FROM clause the gate reads; `carry`: extra columns to
    * thread through (e.g. ", fp"). */
  private def gateCtes(src: String, carry: String = ""): String =
    s"""f AS (
       |  SELECT doc_id$carry, text, length(text) AS cl,
       |    len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS wc,
       |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS pc,
       |    string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM $src),
       |n AS (
       |  SELECT doc_id$carry, text, cl, wc, pc,
       |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en,
       |    len(list_filter(w, x -> list_contains(['el','la','de','los','y','que','en'], x))) AS es,
       |    len(list_filter(w, x -> list_contains(['der','die','das','und','ist','ein','nicht'], x))) AS de,
       |    len(list_filter(w, x -> list_contains(['le','la','les','et','est','une','dans'], x))) AS fr
       |  FROM f),
       |q AS (
       |  SELECT doc_id$carry,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
       |         WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
       |         WHEN de >= fr AND de > 0 THEN 'de'
       |         WHEN fr > 0 THEN 'fr'
       |         ELSE 'unknown' END AS pred_lang,
       |    CASE WHEN wc > 0 AND cl > 0 THEN
       |      round(0.4 * least(wc / 100.0, 1.0) + 0.4 * (en * 1.0 / wc)
       |            + 0.2 * (1.0 - pc * 1.0 / cl), 6)
       |    ELSE 0.0 END AS quality_score
       |  FROM n)""".stripMargin

  /** Trigram-shingle CTEs + Jaccard>=0.5 pair select, shared by the
    * brute/LSH oracles and the clustering oracle's transitive closure. */
  private val NgramJaccardCtes =
    """d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |      FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                   for i in range(1, len(w) - 1)]) AS sh
      |  FROM d WHERE len(w) >= 3)""".stripMargin
  private val NgramJaccardSelect =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(len(list_intersect(a.sh, b.sh)) * 1.0
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) * 1.0
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5""".stripMargin

  /** Shared oracle for the brute-force and LSH near-dup paths (trigram
    * shingles, Jaccard >= 0.5). */
  private val NgramJaccardOracle =
    s"WITH $NgramJaccardCtes\n$NgramJaccardSelect\nORDER BY id_a, id_b"

  /** DuckDB replay of [[graft.ops.TextAnalysis.lmScore]] self-trained on
    * `documents` — ends in `sc(doc_id, n_bigrams, avg_logprob,
    * perplexity)`; shared by `text_lm_score` and `text_ppl_buckets`.
    * Parallel unnests zip pos with its bigram and context; the
    * ordered-list sum replays Spark's position-sorted left fold. */
  private val LmScoreCtes =
    """d AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
      |                x -> x <> '') AS w FROM documents),
      |uni AS (SELECT unnest(w) AS w1 FROM d),
      |c1 AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY 1),
      |v AS (SELECT count(*) AS v FROM c1),
      |bgx AS (SELECT unnest([w[i] || ' ' || w[i+1]
      |                      for i in range(1, len(w))]) AS g FROM d),
      |c12 AS (SELECT g, count(*) AS c12 FROM bgx GROUP BY 1),
      |p AS (SELECT doc_id,
      |    unnest([i - 1 for i in range(1, len(w))]) AS pos,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g,
      |    unnest([w[i] for i in range(1, len(w))]) AS w1
      |  FROM d WHERE len(w) >= 2),
      |lp AS (SELECT doc_id, pos,
      |    ln((CAST(coalesce(c12, 0) AS DOUBLE) + 0.5::DOUBLE)
      |       / (CAST(coalesce(c1, 0) AS DOUBLE)
      |          + 0.5::DOUBLE * CAST(v AS DOUBLE))) AS lp
      |  FROM p LEFT JOIN c12 USING (g) LEFT JOIN c1 USING (w1)
      |  CROSS JOIN v),
      |t AS (SELECT doc_id, count(*) AS n_bigrams,
      |    list_aggregate(list(lp ORDER BY pos), 'sum') AS total
      |  FROM lp GROUP BY 1),
      |sc AS (SELECT d.doc_id,
      |    CAST(coalesce(t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    round(t.total / t.n_bigrams, 6) AS avg_logprob,
      |    round(exp(-(t.total / t.n_bigrams)), 6) AS perplexity
      |  FROM d LEFT JOIN t ON d.doc_id = t.doc_id)""".stripMargin

  /** Transitive closure of the near-dup pair graph →
    * `comp(doc_id, cluster_id)` — the twin of
    * [[graft.ops.Dedup.nearDupClusters]], shared by every
    * cluster-consuming oracle. Must appear after `NgramJaccardCtes`
    * inside a `WITH RECURSIVE`. */
  private val NearDupClosureCtes =
    s"""p AS ($NgramJaccardSelect),
       |e AS (SELECT id_a AS a, id_b AS b FROM p
       |      UNION SELECT id_b, id_a FROM p),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |         FROM r GROUP BY a)""".stripMargin
}
