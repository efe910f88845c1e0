package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.core.Labels
import graft.query.{Aggregates, Interpolation, QueryEngine, SelectParams}

/** Table configuration (reference `.schema` v4, `pkg/config/config.go:209-244`
  * + `pkg/tsdb/schema/schema.go:39-134`). Intervals in ms. */
case class TsdbConfig(
    partitionIntervalMs: Long = 86400000L, // 1d partitions (dir-per-partition analog)
    rollupIntervalMs: Long = 3600000L,     // 1h rollup granularity (rollupTime)
    aggregates: Seq[String] = Rollup.DefaultAggregates,
    // `CanAggregate` engagement: step/rollup must EXCEED this (reference
    // useServerAggregateCoefficient, config.go:61)
    useServerAggregateCoefficient: Int = 3,
    lateArrivalMs: Long = 59 * 60000L,     // maxLateArrivalInterval, store.go:42
    // layer retention horizon (reference LayerRetentionTime / retentionDays,
    // config.go:57,198-200, partmgr.go:330): 0 = keep forever; enforced by
    // [[TsdbTable.applyRetention]] as whole-partition drops
    retentionMs: Long = 0L,
    // pre-aggregate cross-label rollups (A7, config.PreAggregate,
    // config.go:203-207): one extra materialized rollup per label subset
    preAggregates: Seq[Seq[String]] = Nil,
    // series shards per time partition (reference shardingBucketsCount,
    // config.go:52): raw rows hash by series into this many shards so a
    // single time partition is written and scanned by many tasks instead
    // of one — essential once one partition holds billions of rows
    shardingBuckets: Int = 8,
    // last-write-wins sample rewrites (reference OverrideOld,
    // config.go:146-147): appends stamp a batch sequence and every read
    // merges on read, keeping only the latest version of each
    // (series, time) — the classic MOR pattern (Hudi/Delta read path;
    // plain parquet has no MERGE). Off = duplicates are the ingest
    // job's responsibility (the streaming dedup) and reads stay
    // window-free.
    overrideOld: Boolean = false,
    // force aggregate serving from the rollup at rollup granularity
    // (reference disableClientAggr: step > rollup is coerced DOWN to the
    // rollup interval, select.go:185-187, and CanAggregate passes via the
    // step == rollup equality escape, aggregationParams.go:74)
    disableClientAggregation: Boolean = false,
    // single-writer lease horizon for the `_writer` lock file: a lock
    // older than this is presumed abandoned by a crashed writer and is
    // broken. Must exceed the longest single mutation (append/delete/
    // compact) or a live writer could be fenced mid-operation.
    writerLeaseMs: Long = 30 * 60000L) {
  require(shardingBuckets > 0, s"shardingBuckets must be positive, got $shardingBuckets")
  // rollup buckets must nest inside partitions or rollup rows would land in
  // a different partition than their raw samples and be lost/corrupted by
  // partition-scoped maintenance (the reference derives the intervals
  // together, schema.go:136-164)
  require(partitionIntervalMs % rollupIntervalMs == 0,
    s"rollupIntervalMs ($rollupIntervalMs) must divide partitionIntervalMs ($partitionIntervalMs)")

  /** Reference validateAggregatesGranularity (schema.go:205-207): the
    * granularity must divide or be a multiple of 1 day so buckets stay
    * day-aligned. Checked at table CREATION (SchemaJson.write), not in
    * the constructor — a stricter constructor would lock users out of
    * previously valid existing tables. */
  def validateForCreate(): Unit =
    require(86400000L % rollupIntervalMs == 0 || rollupIntervalMs % 86400000L == 0,
      s"rollupIntervalMs ($rollupIntervalMs) should be a divisor or a dividend of 1 day " +
        "(examples: 10m, 30m, 2h)")
  // only raw partials can be materialized; virtual aggregates (avg/stddev/
  // stdvar/rate) are derived at query time from these
  require(aggregates.forall(graft.query.Aggregates.RawAggregates.contains),
    s"aggregates must be raw partials (${graft.query.Aggregates.RawAggregates.mkString(",")}); " +
      s"got ${aggregates.mkString(",")}")
}

/** A TSDB table on disk: raw samples + materialized rollup + names dim.
  *
  * Layout (SURVEY §1.6 — replaces the reference's KV items + `_v_` arrays):
  * {{{
  *   <path>/raw/part_start=<ms>/     raw samples, sorted (series_id, time)
  *   <path>/rollup/part_start=<ms>/  partial aggregates per (series, bucket)
  *   <path>/names/                   distinct metric names
  * }}}
  *
  * Scale design: `part_start` partitioning gives time-range partition
  * pruning (reference `PartsForRange`, `partmgr.go:313-321`); sorting
  * within partitions by (series_id, time) gives parquet min/max row-group
  * skipping on series predicates (the reference's sharding-key scans);
  * the rollup table is the aggregate-pushdown target (A2). On a real
  * cluster the same layout holds with files per executor — nothing here
  * assumes a single writer except `SaveMode.Overwrite` of names.
  */
object TsdbTable {
  import org.apache.spark.sql.types._

  /** Commit-manifest set size that triggers a vacuum (orphan sweep +
    * floor collapse) on the next commit — bounds manifest growth and
    * reader-filter size for tables that never compact (non-MOR
    * streaming ingest commits one seq per micro-batch). */
  val VacuumSetThreshold: Int = 256

  /** Cap on a registry-resolved series set ([[TsdbTable.resolveSeries]]):
    * beyond it the filter is unselective and pruning stops paying — the
    * IN-list / stripe intersection would cost more than it saves. */
  val MaxPruneSeries: Int = 10000

  /** A filter string split in one parse: its top-level AND conjuncts of
    * the exact `labels['k'] = 'v'` shape (the form
    * [[graft.sql.TsdbSql.translateFilter]] emits), and the residual —
    * every other conjunct, ANDed in order, as the parsed expression
    * (None when nothing is left). The scan enforces the label
    * equalities exactly ([[graft.sources.GraftReaders.LabelTest]]), so a
    * raw read applies only the residual to its rows. The filter parses
    * as `expr(filter)` would, with the session's parser; at this stage
    * `labels` is an UnresolvedAttribute and the subscript an
    * UnresolvedExtractValue. A conjunct of any other shape stays in the
    * residual; a filter that fails to parse yields no label equalities
    * and itself as the residual, whose application surfaces the real
    * error. */
  private[graft] def labelEqConjuncts(
      filter: String): (Seq[(String, String)], Option[Column]) = {
    if (filter == null || filter.isEmpty) return (Nil, None)
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq, Expression, Literal}
    def labelKey(e: Expression): Option[String] = e match {
      case UnresolvedExtractValue(a: UnresolvedAttribute, Literal(k, StringType))
          if a.nameParts == Seq("labels") && k != null => Some(k.toString)
      case _ => None
    }
    def strLit(e: Expression): Option[String] = e match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    def labelEq(e: Expression): Option[(String, String)] = e match {
      case CEq(l, r) =>
        (for {k <- labelKey(l); v <- strLit(r)} yield (k, v))
          .orElse(for {k <- labelKey(r); v <- strLit(l)} yield (k, v))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val parsed =
      try Some(GraftSqlBridge.parseExpression(SparkSession.active, filter))
      catch { case scala.util.control.NonFatal(_) => None }
    parsed match {
      case None => (Nil, Some(expr(filter)))
      case Some(e) =>
        val (eqs, rest) = conjuncts(e).partitionMap(c => labelEq(c).toLeft(c))
        (eqs, rest.reduceOption(CAnd(_, _)).map(GraftSqlBridge.column))
    }
  }

  /** Enriched raw-table schema (sample model + derived identity columns). */
  val RawSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("time", LongType),
    StructField("value", DoubleType),
    StructField("valueStr", StringType),
    StructField("labels_str", StringType),
    StructField("series_id", LongType),
    StructField("part_start", LongType)))

  /** What the raw directory holds: [[RawSchema]] plus the batch seq every
    * mutation stamps and the tombstone flag MOR deletes set. Raw reads
    * DECLARE it instead of inferring it (inference is one Spark job per
    * read, paid while the DataFrame is built): a file written before a
    * column existed reads that column as NULL — a pre-`__seq` row orders
    * after every stamped version under LWW, a pre-tombstone row is live. */
  val RawFileSchema: StructType = StructType(
    RawSchema.filterNot(_.name == "part_start") ++ Seq(
      StructField("__seq", LongType),
      StructField("__del", BooleanType),
      StructField("part_start", LongType)))

  /** One raw partition directory read directly (`part_start` lives in the
    * directory name, not in the files). */
  private val RawDirSchema: StructType =
    StructType(RawFileSchema.filterNot(_.name == "part_start"))

  private val NamesSchema: StructType = StructType(Seq(StructField("name", StringType)))

  /** The `series_enc` sidecar: the type pin (series_id → variant) plus the
    * registry columns; a pre-registry file reads them as NULL, which the
    * completeness gate in [[resolveSeries]] turns into "no pruning". */
  private val SeriesEncSchema: StructType = StructType(Seq(
    StructField("series_id", LongType),
    StructField("variant", BooleanType),
    StructField("name", StringType),
    StructField("labels_str", StringType),
    StructField("labels", MapType(StringType, StringType))))

  /** The series registry's postings index for ONE sidecar version: label
    * key → value → sorted series ids, each key loaded on first use. The
    * version is the sidecar's listing stamp (file name, length, mtime of
    * every data file); any sidecar write changes it. `incomplete` records
    * that the version holds pre-registry rows — nothing can prune on it.
    * Guarded by its own monitor. */
  private final class SeriesPostings(val stamp: Seq[(String, Long, Long)]) {
    var incomplete = false
    val byKey = scala.collection.mutable.HashMap.empty[String, Map[String, Array[Long]]]
  }

  /** Driver-side postings per table (keyed by the sidecar path), least
    * recently used evicted past [[PostingsTables]]. */
  private val PostingsTables = 64
  private val postings = new java.util.LinkedHashMap[String, SeriesPostings](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, SeriesPostings]): Boolean =
      size() > PostingsTables
  }

  /** The index for `stamp` of the sidecar at `key`: the cached one while
    * the stamp holds, a fresh empty one once it moved. */
  private def postingsAt(key: String, stamp: Seq[(String, Long, Long)]): SeriesPostings =
    postings.synchronized {
      val cur = postings.get(key)
      if (cur != null && cur.stamp == stamp) cur
      else { val fresh = new SeriesPostings(stamp); postings.put(key, fresh); fresh }
    }

  /** Intersection of ascending id arrays. */
  private def intersectSorted(lists: Seq[Array[Long]]): Array[Long] =
    lists.sortBy(_.length).reduce { (a, b) =>
      val out = Array.newBuilder[Long]
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { out += a(i); i += 1; j += 1 }
      }
      out.result()
    }
}

class TsdbTable(spark: SparkSession, val path: String, val config: TsdbConfig = TsdbConfig()) {

  private val rawPath = s"$path/raw"
  private val rollupPath = s"$path/rollup"
  private val namesPath = s"$path/names"
  private val seriesEncPath = s"$path/series_enc"

  /** Batch sequence for merge-on-read ordering: wall-clock ms (meaningful
    * ACROSS restarts, unlike nanoTime whose origin is arbitrary per boot)
    * bumped past the last issued value so same-millisecond appends from
    * one writer still order. Multi-writer appends within the same ms tie —
    * single-writer is this table's contract (see names overwrite). */
  private var lastSeq = 0L
  private def nextSeq(): Long = synchronized {
    // seed on first use from BOTH the manifest's committed max AND the
    // max seq actually STAMPED in live files (one cheap scan of the
    // RLE'd constant-per-file column, once per writer life): a writer
    // restart after a wall-clock step-back must never issue a seq at or
    // below already-committed ones (LWW would prefer old rows over new
    // rewrites and the new batch's exact-set commit wouldn't cover
    // them), and must never RE-ISSUE a crashed mutation's orphan seq —
    // the manifest alone doesn't know orphan seqs, and re-issuing one
    // would commit the orphan's files along with the new batch
    if (lastSeq == 0L)
      lastSeq = math.max(readCommits().map(_.max).getOrElse(0L), maxStampedSeq())
    lastSeq = math.max(System.currentTimeMillis(), lastSeq + 1)
    lastSeq
  }

  /** Max `__seq` present in live raw files (0 when empty/legacy) — the
    * orphan-aware half of [[nextSeq]]'s seeding. */
  private def maxStampedSeq(): Long =
    if (!hasPartitions(rawPath)) 0L
    else Option(rawListing().agg(max("__seq")).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** ENFORCED single-writer contract: every mutation (append / delete /
    * retention / compact) holds the `<path>/_writer` lock file for its
    * duration. The reference gets concurrent-appender safety from
    * conditional KV updates (`store.go:449-465`); plain parquet has no
    * conditional write, so interleaved mutators would corrupt the names
    * overwrite, the `series_enc` sidecar, and `__seq` ordering — a second
    * writer is rejected LOUDLY here instead of corrupting silently.
    *
    * Lease semantics: a lock older than `config.writerLeaseMs` is
    * presumed left by a crashed writer and is broken (a dead process must
    * not wedge the table forever) via claim-by-rename, with an mtime
    * compare-and-swap on mtime-preserving filesystems (local, HDFS):
    * only the file actually judged stale is deleted, and a live lock
    * stolen in the stat-to-rename window is restored. Object-store
    * renames restamp mtime, so there the break stays unconditional and
    * atomicity comes from a conditional-put layer. Lock creation is
    * atomic: O_CREAT|O_EXCL on the local fs, the filesystem's
    * no-overwrite create on HDFS/object stores (namenode serialization /
    * conditional put). The lock's own break path keeps documented
    * residual races, but their correctness consequence is closed: the
    * commit manifest is published through [[CommitLog]]'s conditional
    * put (the reference's CAS, store.go:449-465, re-expressed as a
    * versioned log), so two writers that slip past the lock can only
    * lose LOUDLY at the commit — never lost-update the manifest.
    * Single-writer remains the supported deployment; the lock exists to
    * reject violations early, before files are written. */
  private def withWriterLock[A](op: String)(body: => A): A = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val tableDir = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(tableDir)) fs.mkdirs(tableDir)
    val lock = new org.apache.hadoop.fs.Path(path, "_writer")
    try {
      val stale = fs.getFileStatus(lock).getModificationTime
      // break an expired lease by CLAIMING it first (rename to a unique
      // name, then delete the claimed file): two waiters deleting the
      // stale path directly could each delete-then-create and BOTH
      // acquire — rename is the atomic arbiter, only its winner proceeds
      // past this point with the stale lock gone
      if (System.currentTimeMillis() - stale > config.writerLeaseMs) {
        val claimed = new org.apache.hadoop.fs.Path(path,
          s"_writer.stale.${ProcessHandle.current.pid}.${System.nanoTime()}")
        if (fs.rename(lock, claimed)) {
          // compare-and-swap on mtime: between our stat and our rename
          // another breaker may have broken the stale lock AND created
          // its own FRESH one at the same path — the rename then stole a
          // LIVE lock (both writers would append concurrently; caught as
          // corrupt concurrent parquet writes by the race spec). Only an
          // mtime identical to the one we judged stale is ours to break;
          // otherwise restore the live lock and fall through to the
          // create-contention rejection below. The CAS is scoped to
          // filesystems whose rename PRESERVES mtime (local, HDFS): an
          // object store's copy+delete "rename" restamps it, so the CAS
          // would never match and every break attempt would re-arm the
          // lease — a permanently wedged table. There the break stays
          // unconditional (those deployments get their atomicity from a
          // conditional-put layer, per the scaladoc). Residual windows,
          // documented honestly: (a) a breaker that steals a live lock
          // and restores it AFTER the owner released leaves an orphan
          // lock that rejects writers loudly for one lease period; (b)
          // with 3+ simultaneous breakers a create can land inside the
          // claim-restore gap (and the local-fs restore below would
          // replace it — POSIX rename clobbers an existing destination,
          // hence the exists guard, itself check-then-rename). These
          // windows can no longer lose data: the manifest publish is a
          // CommitLog conditional put, so whichever writer slips
          // through here still loses LOUDLY at its commit. Single-
          // writer remains the supported deployment — the lock exists
          // to reject violations early.
          val casCapable = fs.getScheme == "file" || fs.getScheme == "hdfs"
          if (!casCapable ||
              fs.getFileStatus(claimed).getModificationTime == stale)
            fs.delete(claimed, false)
          else if (fs.exists(lock) || !fs.rename(claimed, lock))
            fs.delete(claimed, false) // lock path reoccupied: drop the claim
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    val stream =
      try {
        // the local fs's create(overwrite=false) is check-then-create,
        // NOT atomic — two writers who both found no lock (e.g. after a
        // broken lease) can both pass the check. java.io.File
        // .createNewFile IS atomic (O_CREAT|O_EXCL), so local locks are
        // claimed with it first and the hadoop stream then reopens OUR
        // file for the holder-info write. HDFS/object stores keep the
        // plain create — atomic there (namenode serialization /
        // conditional put), per the scaladoc above.
        if (fs.getScheme == "file") {
          if (!new java.io.File(lock.toUri.getPath).createNewFile())
            throw new java.io.IOException(s"$lock exists")
          fs.create(lock, true)
        } else fs.create(lock, false)
      } catch {
        case _: java.io.IOException =>
          val holder =
            try {
              val in = fs.open(lock)
              try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
              finally in.close()
            } catch { case _: Exception => "unknown" }
          throw new java.util.ConcurrentModificationException(
            s"cannot $op: another writer holds $path/_writer ($holder). " +
              "TsdbTable is single-writer (the reference serializes appenders via " +
              "conditional KV updates, store.go:449-465); run one mutating job per " +
              s"table, or wait for the ${config.writerLeaseMs} ms lease to expire " +
              "if that writer crashed.")
      }
    // once the lock exists WE own releasing it: the holder-info write and
    // the body both run inside the same finally, so a failed write cannot
    // leave the table wedged for a full lease
    try {
      try {
        stream.write((s"op=$op host=${java.net.InetAddress.getLocalHost.getHostName} " +
          s"pid=${ProcessHandle.current.pid} ts=${System.currentTimeMillis()}")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } finally stream.close()
      body
    } finally fs.delete(lock, false)
  }

  // ------------------------------------------------- reader atomicity
  // A `_commits` manifest makes batches visible to readers ATOMICALLY:
  // every mutation stamps its rows with a batch `__seq`, and readers
  // admit only rows whose seq is COMMITTED — seq <= floor, or seq in
  // the explicit committed set (NULL = pre-manifest legacy files). The
  // manifest is a tiny versioned commit log ([[CommitLog]]): each
  // publish atomically CREATES the next immutable full-state version
  // AFTER the batch's files are fully in place, so a reader racing an
  // in-flight mutation sees the ENTIRE batch or none of it — never the
  // torn prefix Spark's one-file-at-a-time job commit would expose
  // through a mid-commit listing. The EXACT-SET admission (not a high watermark)
  // is load-bearing for crash safety: a crashed mutation's orphan files
  // carry a seq that was never added to the set, so later commits can
  // never retroactively admit them — under a plain watermark, the next
  // commit's higher mark would resurrect every orphan below it.
  // Compaction purges orphans physically and then advances `floor` to
  // its own max seq (every live file at or below it is provably
  // committed), collapsing the set so the manifest never grows beyond
  // the mutations since the last compaction. Parquet prunes whole
  // files: `__seq` is constant per file, so row-group stats exclude
  // uncommitted files without reading them.

  private val commitsFile = "_commits"

  /** The parsed `_commits` manifest: `seq` is visible iff
    * `seq <= floor` or `seqs(seq)`. `horizon` (r8) is the history-rewrite
    * fence for time travel: physical rewrites (compaction, partition-drop
    * deletes, retention, non-MOR row rewrites) destroy the old file
    * generations that snapshot reads below their seq would need, so they
    * raise `horizon` and [[readRawAsOf]]/[[changes]] refuse snapshots
    * below it LOUDLY instead of silently serving an empty or torn view.
    * MOR mutations (append, tombstone delete) keep every superseded
    * version on disk and never move the horizon — the Delta/Iceberg
    * shape, where VACUUM/OPTIMIZE bound time travel, not writes. */
  private case class Commits(floor: Long, seqs: Set[Long], horizon: Long = 0L,
                             txns: Map[String, Long] = Map.empty) {
    def max: Long = if (seqs.isEmpty) floor else math.max(floor, seqs.max)
  }

  /** Parse one manifest body — identical format for the legacy single
    * file and every commit-log version. A bare-number body (the
    * earliest watermark format) parses as a floor; an EMPTY body is
    * corruption, not a manifest (parsing it as floor=0 would silently
    * hide every stamped row). */
  private def parseCommitsText(text: String, src: String): Commits = {
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    if (lines.isEmpty)
      throw new java.io.IOException(s"empty commit manifest $src")
    val floor = lines.collectFirst {
      case l if l.startsWith("floor=") => l.stripPrefix("floor=").toLong
    }.getOrElse(0L)
    val horizon = lines.collectFirst {
      case l if l.startsWith("horizon=") => l.stripPrefix("horizon=").toLong
    }.getOrElse(0L)
    // writer-transaction tags (r12, the Delta txnAppId/version shape):
    // `txn=<id>:<batchId>` records the LAST batch a named idempotent
    // writer (the streaming sink, keyed by checkpoint) committed — in
    // the SAME atomic publish as the data's seq, so replay detection
    // can never disagree with what was actually appended
    val txns = lines.filter(_.startsWith("txn=")).map { l =>
      val body = l.stripPrefix("txn=")
      val i = body.lastIndexOf(':')
      if (i <= 0) throw new java.io.IOException(s"bad txn line in $src: $l")
      body.substring(0, i) -> body.substring(i + 1).toLong
    }.toMap
    // only the KNOWN key=value lines are metadata; anything else must
    // parse as a seq or the manifest is corrupt — silently dropping a
    // mangled committed-seq line would make that batch invisible (and
    // vacuum-deletable), the exact loss the strict write path exists
    // to refuse (review-caught: a filterNot(contains "=") swallowed it)
    val bare = lines
      .filterNot(l => l.startsWith("floor=") || l.startsWith("horizon=") ||
        l.startsWith("txn="))
      .map(_.toLong)
    // legacy single-number file = a floor
    if (floor == 0L && bare.length == 1 && lines.length == 1)
      Commits(bare.head, Set.empty)
    else Commits(floor, bare.toSet, horizon, txns)
  }

  /** The manifest state plus the commit-log version it was read at —
    * the CAS identity every publish is conditioned on. version 0 = no
    * versioned log yet (a legacy single-file-manifest table, or no
    * manifest at all); the next publish then attempts v1. */
  private case class CommitsAt(version: Long, commits: Option[Commits])

  /** commits = None ⇒ no manifest (legacy table) → everything visible,
    * i.e. the pre-manifest behavior, never an empty table. `strict`
    * callers — the WRITE path — rethrow read/parse errors instead of
    * degrading: a commit that misreads a transient error as "no
    * manifest" would grandfather every extant orphan through the
    * floor = seq-1 fallback, re-opening the resurrection hole this
    * design closes. Readers stay LENIENT (None on any error —
    * availability over precision, the documented fallback). The
    * versioned commit log is authoritative whenever it exists; the
    * legacy `_commits` single file is read only for tables that
    * predate it (and is deleted at their first versioned publish). */
  private def readCommitsAt(strict: Boolean): CommitsAt =
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      CommitLog.readLatest(fs, new org.apache.hadoop.fs.Path(path)) match {
        case Some((v, body)) =>
          CommitsAt(v, Some(parseCommitsText(body,
            s"$path/${CommitLog.DirName}/${CommitLog.fileName(v)}")))
        case None =>
          val in = fs.open(new org.apache.hadoop.fs.Path(path, commitsFile))
          val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          CommitsAt(0L, Some(parseCommitsText(body, s"$path/$commitsFile")))
      }
    } catch {
      case _: java.io.FileNotFoundException =>
        CommitsAt(0L, None) // genuinely no manifest
      case e: Exception => if (strict) throw e else CommitsAt(0L, None)
    }

  private def readCommits(strict: Boolean = false): Option[Commits] =
    readCommitsAt(strict).commits

  /** Committed-visibility snapshot for external readers (the DSv2 batch
    * source): `(floor, explicit committed seqs)`, or None on a
    * manifest-less legacy table (everything visible). Lenient like every
    * current-view read. */
  private[graft] def commitsSnapshot(): Option[(Long, Set[Long])] =
    readCommits(strict = false).map(c => (c.floor, c.seqs))

  /** The last batch a named idempotent writer committed (its `txn=`
    * manifest tag), or -1 if it never wrote — the Delta
    * txnAppId/version replay guard. STRICT: a replay decision must not
    * be made off a transient misread. */
  private[graft] def txnVersion(id: String): Long =
    readCommits(strict = true).flatMap(_.txns.get(id)).getOrElse(-1L)

  /** The snapshot-read variant: STRICT manifest (a transient read error
    * must fail the snapshot, not corrupt it) plus the [[readRawAsOf]]
    * horizon fence. Handles are validated where they enter — the DSv2
    * `asOf` option and [[readRawAsOf]]; [[changes]] reads its at-since
    * view at any `sinceSeq`, 0 included. */
  private[graft] def commitsSnapshotAsOf(asOfSeq: Long): Option[(Long, Set[Long])] = {
    val c = readCommits(strict = true)
    c.map(_.horizon).filter(_ > asOfSeq).foreach { h =>
      throw new IllegalArgumentException(
        s"snapshot seq=$asOfSeq predates the history-rewrite horizon=$h of $path: " +
          "compaction / retention / a partition-drop or non-MOR delete has " +
          "physically removed the file generations this snapshot needs. " +
          "Time travel reaches back only to the most recent rewrite.")
    }
    c.map(x => (x.floor, x.seqs))
  }

  /** Publish the manifest as the NEXT commit-log version — one atomic
    * create-if-absent ([[CommitLog.tryPublish]]).
    *
    * CROSS-JVM CAS (r10; closed for good with the versioned log): `at`
    * is the versioned snapshot this read-modify-write was computed
    * FROM, and the publish attempts exactly version `at.version + 1`.
    * The compare and the swap are the SAME filesystem primitive
    * (POSIX link(2) locally, create-no-overwrite on HDFS-like stores),
    * so the earlier re-read CAS's microsecond stat-to-rename window no
    * longer exists: a zombie writer (lease broken while merely slow)
    * and the live writer race for the same version file and the
    * filesystem admits exactly one. The loser aborts LOUDLY and its
    * batch files stay invisible orphans (the exact-set admission never
    * saw their seqs) for vacuum to sweep — never a torn, rolled-back,
    * or lost-update manifest. The old single-file replace's non-local
    * delete+rename "empty manifest window" is gone too: versions are
    * immutable, created whole, never replaced. */
  /** Fault-injection seam for the CAS spec ONLY: runs once (self-
    * clearing) immediately before the publish's conditional put — the
    * spec interleaves a second table instance's full append here, the
    * zombie-writer timing that cannot be produced through the public
    * API alone (the writer lock serializes it everywhere else). */
  private[graft] var testHookBeforeCommitCas: Runnable = null

  private def publishCommits(c: Commits, at: CommitsAt): Unit = {
    val hook = testHookBeforeCommitCas
    if (hook != null) { testHookBeforeCommitCas = null; hook.run() }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val body = (Seq(s"floor=${c.floor}", s"horizon=${c.horizon}") ++
      c.txns.toSeq.sortBy(_._1).map { case (id, b) => s"txn=$id:$b" } ++
      c.seqs.toSeq.sorted.map(_.toString))
      .mkString("", "\n", "\n")
    val next = at.version + 1
    val tableDir = new org.apache.hadoop.fs.Path(path)
    if (!CommitLog.tryPublish(fs, tableDir, next, body.getBytes("UTF-8")))
      throw new java.util.ConcurrentModificationException(
        s"commit manifest CAS failed for $path: log version $next already " +
          s"exists — another writer published between this mutation's " +
          s"manifest read (version ${at.version}) and its commit " +
          "(writer-lock lease break or multi-writer misuse). This " +
          "mutation is ABORTED; its files carry an uncommitted seq and " +
          "remain invisible until vacuum sweeps them. TsdbTable is " +
          "single-writer.")
    // the legacy single-file manifest is shadowed by the log from v1 on;
    // drop it so the table carries one source of truth (a crash before
    // this delete leaves it harmlessly shadowed — readers prefer the log)
    if (at.version == 0L)
      fs.delete(new org.apache.hadoop.fs.Path(path, commitsFile), false)
    CommitLog.gc(fs, tableDir, next)
  }

  /** Commit `seq`: add it to the manifest's explicit set. A MISSING
    * manifest (legacy table, or one whose manifest was lost) starts at
    * `floor = seq - 1`: the table was in the all-visible fallback state,
    * so pre-manifest stamped rows are GRANDFATHERED rather than silently
    * hidden by the exact-set admission — that preserves the status quo
    * exactly (anything visible before the first commit stays visible,
    * including any pre-manifest orphans the fallback already exposed);
    * only mutations from this commit on get the exact-set crash safety.
    * When the explicit set outgrows [[VacuumSetThreshold]] (a table that
    * never compacts — e.g. non-MOR streaming ingest — would otherwise
    * grow it by one seq per batch forever, bloating every reader's
    * isin() literal list), the manifest is VACUUMED: orphan files are
    * physically deleted and the set collapses into the floor. */
  private def commitSeq(seq: Long, horizonTo: Long = 0L,
                        txn: Option[(String, Long)] = None): Boolean = {
    val at = readCommitsAt(strict = true)
    val cur = at.commits.getOrElse(Commits(math.max(0L, seq - 1), Set.empty))
    // idempotent-writer TOCTOU guard (r12 review): the caller's replay
    // pre-check ran before this mutation's writes — a concurrent/zombie
    // retry of the SAME (txnAppId, txnVersion) may have committed in
    // between. Re-verify against the exact manifest snapshot this
    // publish is CAS'd on: already satisfied ⇒ the batch is in, this
    // attempt's files stay invisible orphans (vacuum sweeps them), and
    // the caller skips its post-commit work. Delta performs the same
    // check inside the transaction commit.
    if (txn.exists { case (id, v) => cur.txns.get(id).exists(_ >= v) })
      return false
    val merged = cur.copy(seqs = cur.seqs + seq,
      horizon = math.max(cur.horizon, horizonTo),
      txns = cur.txns ++ txn)
    publishCommits(merged, at)
    if (merged.seqs.size > TsdbTable.VacuumSetThreshold)
      vacuumCommits(CommitsAt(at.version + 1, Some(merged)))
    true
  }


  /** Collapse the manifest by removing what keeps it from collapsing:
    * every live file whose seq is NOT committed is a crashed mutation's
    * orphan — find them with one cheap scan of the (RLE'd,
    * constant-per-file) `__seq` column keyed by `input_file_name`,
    * delete them, and publish `floor = max committed` with an empty set
    * (every surviving stamped seq is committed and <= that max by
    * definition). Callers hold the writer lock; a reader that resolved
    * an orphan's file name just before its deletion can hit the same
    * retryable read error documented at the compaction deletes — and
    * orphans were never visible to it anyway. */
  private def vacuumCommits(at: CommitsAt): Unit = {
    val cm = at.commits.getOrElse(return)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    if (hasPartitions(rawPath)) {
      // the orphan predicate runs on the EXECUTORS (the committed set
      // is manifest-bounded, <= VacuumSetThreshold+1 literals), so the
      // driver materializes only the orphan file names — usually none —
      // instead of one row per live file (a never-compacted
      // multi-million-file table would otherwise make vacuum the one
      // maintenance step with driver-proportional memory)
      val committed = cm.seqs.toSeq
      val orphanFiles = rawListing()
        .filter(col("__seq").isNotNull && col("__seq") > lit(cm.floor) &&
          (if (committed.isEmpty) lit(true) else !col("__seq").isin(committed: _*)))
        .select(input_file_name().as("f")).distinct().collect()
      orphanFiles.foreach(r =>
        fs.delete(new org.apache.hadoop.fs.Path(r.getString(0)), false))
    }
    // orphans were never reader-visible at ANY seq, so vacuum moves no
    // history fence — committed generations (and their snapshots) survive.
    // CAS at `at`: the collapse was computed from it, and a foreign
    // publish in between must win the version race, not be rolled back
    publishCommits(Commits(cm.max, Set.empty, cm.horizon, cm.txns), at)
  }

  /** Manifest maintenance, callable directly (the same sweep
    * [[commitSeq]] auto-triggers past [[TsdbTable.VacuumSetThreshold]]):
    * physically delete crashed mutations' orphan files and collapse the
    * commit manifest to a bare floor. No-op on a manifest-less legacy
    * table. */
  def vacuum(): Unit = withWriterLock("vacuum") {
    val at = readCommitsAt(strict = true)
    if (at.commits.nonEmpty) vacuumCommits(at)
  }

  /** Compaction's floor advance: every live file with seq <= `floor` is
    * provably committed once compaction has rewritten every partition
    * (its visibility-filtered reads dropped the orphans and its deletes
    * removed their files), so the explicit set collapses. */
  private def advanceCommitsFloor(floor: Long): Unit = {
    val at = readCommitsAt(strict = true)
    val cur = at.commits.getOrElse(Commits(0L, Set.empty))
    val f = math.max(cur.floor, floor)
    publishCommits(Commits(f, cur.seqs.filter(_ > f), cur.horizon, cur.txns), at)
  }

  /** Apply committed-only visibility to a raw read (NULL `__seq` = a
    * legacy row written before stamping, always visible); a
    * manifest-less table reads fully visible. */
  private def applyVisibility(df: DataFrame, cm: Option[Commits]): DataFrame =
    cm match {
      case Some(c) =>
        val base = col("__seq").isNull || col("__seq") <= c.floor
        df.filter(if (c.seqs.isEmpty) base else base || col("__seq").isin(c.seqs.toSeq: _*))
      case None => df
    }

  /** Every raw file under the declared [[TsdbTable.RawFileSchema]] — no
    * inference job; the listing happens here, eagerly. */
  private def rawListing(): DataFrame =
    spark.read.schema(TsdbTable.RawFileSchema).parquet(rawPath)

  /** The stamped, UNMERGED committed rows — every version with its
    * `__seq`/`__del` — for the reads that classify versions themselves
    * ([[changes]]' window, the touched-partition probe of
    * [[serverAggregateAtSnapshot]]); merged reads go through [[merged]].
    * The schema is declared ([[TsdbTable.RawFileSchema]]): files written
    * before `__seq` existed read it as NULL. STRICT manifest read: both
    * callers serve snapshot or CDC semantics, where the lenient
    * all-visible fallback would admit crashed mutations' orphans (FileNotFound
    * still means a genuinely manifest-less legacy table).
    *
    * FILE LISTING FIRST, manifest second (r11, race-caught by the
    * compaction-vs-select spec returning an EMPTY view): relation
    * creation pins the file list, so ordering decides what a read that
    * straddles a compaction swap can observe. Manifest-first is torn —
    * an OLD manifest paired with a post-swap listing filters the new
    * generation out (its seq is not yet admitted) and serves empty.
    * Listing-first closes it: an old listing pairs with any manifest
    * correctly (old seqs stay under the monotone floor; deleted files
    * at scan time are the documented retryable error), and a mid-swap
    * listing implies the commit already happened, so the manifest read
    * AFTER it always admits the new generation. The manifest is frozen
    * into the plan as literals, so one query holds one consistent
    * snapshot. [[graft.sources.GraftScan]] plans in the same order. */
  private def rawFiles(): DataFrame = {
    val listed = rawListing()
    applyVisibility(listed, readCommits(strict = true))
  }

  private def partStart(time: org.apache.spark.sql.Column) =
    (floor(time / lit(config.partitionIntervalMs)).cast("long") * lit(config.partitionIntervalMs))

  /** Append a samples batch (`name, labels, time, value[, valueStr]`)
    * through [[land]]: identity columns, the time-partitioned sorted raw
    * write (reference pending-list sort O2, `store.go:124-134`), one
    * commit, and the rollup + names fold. An empty batch commits
    * nothing: `currentSeq()` and `history()` stay as they were.
    *
    * @param incrementalRollup merge the BATCH's partials into the existing
    *        rollup (one pass over the batch + the touched rollup
    *        partitions — the scale path, mirroring the reference's
    *        ingest-time `_v_*` array updates); false recomputes touched
    *        partitions from raw (simpler, and the repair path after
    *        deletes). Incremental assumes batch∩existing-raw is disjoint —
    *        exactly what the streaming dedup guarantees.
    */
  def append(samples: DataFrame, incrementalRollup: Boolean = false,
             txn: Option[(String, Long)] = None): Unit =
    withWriterLock("append") {
    // idempotent-writer fast path, now UNDER the writer lock (r12
    // review: the callers' pre-checks run before the lock and can race
    // a concurrent retry of the same tag — TOCTOU). With the lock held,
    // lock-respecting duplicates serialize here before any file is
    // written; a lease-breaking zombie is caught by the second check
    // inside [[commitSeq]], on the CAS basis itself.
    if (txn.exists { case (id, v) => v <= txnVersion(id) }) ()
    else {
      // self-describing table (r12, review-caught): external readers — the
      // DSv2 batch source, the graft-cdc streaming source — take the
      // table's config from `.schema`, never from a caller, so a table
      // whose creator skipped SchemaJson.write would be served with
      // DEFAULTS (a MOR table unmerged — silently wrong). First append
      // publishes this instance's config when no declaration exists yet.
      // Best-effort: a config valid for an existing table but failing the
      // CREATION rules (validateForCreate) must not break its appends.
      try {
        val hconf = spark.sparkContext.hadoopConfiguration
        if (graft.core.SchemaJson.read(path, hconf).isEmpty)
          graft.core.SchemaJson.write(path, config, hconf)
      } catch { case scala.util.control.NonFatal(_) => () }
      land(Some(samples), None, incrementalRollup, txn)
    }
  }

  /** The one landing body: every mutation that adds raw rows — [[append]],
    * [[applyDelta]] and the MOR tombstone half of [[delete]] — writes
    * them here. `inserts` carry the sample columns (`name, labels, time,
    * value[, valueStr]`); `tombstones` carry `name, labels, time,
    * labels_str` of the live versions they shadow. Invariants owned here:
    *  - identity: new rows serialize `labels_str` from their labels, a
    *    tombstone keeps its stored one; `series_id`, `part_start` and
    *    `__seq` derive from them once, for both. Append files carry no
    *    `__del` column; it is written only when tombstones ride along;
    *  - type safety: [[enforceSeriesTypes]] gates the inserts only (a
    *    tombstone's NULL value is not a numeric sample);
    *  - one raw write, sharded on `(part_start, series_id)` and sorted by
    *    `(part_start, series_id, time)`, so every file is one sorted
    *    `(series_id, time)` run;
    *  - one seq and one manifest commit (with `txn`, the idempotent
    *    writer's tag) make the whole mutation reader-visible at once. An
    *    input with no rows returns before taking a seq: no commit;
    *  - post-commit, on concurrent threads: series types, rollup, names.
    *    With tombstones, touched partitions left without live rows drop
    *    their rollup dirs, the rest rebuild from the merged view, and the
    *    batch's names are probed in the merged view: a name with no live
    *    row left drops from the names dimension.
    * Returns whether this call committed. */
  private def land(inserts: Option[DataFrame], tombstones: Option[DataFrame],
                   incrementalRollup: Boolean = false,
                   txn: Option[(String, Long)] = None): Boolean = {
    // raw files hold exactly TsdbTable.RawFileSchema, which every reader
    // declares rather than infers: the sample columns at their declared
    // types, a tombstone with NULL values
    def project(df: DataFrame, tomb: Boolean): DataFrame = df.select(
      Seq("name", "labels", "time", "value", "valueStr").map { c =>
        (if (tomb && c.startsWith("value") || c == "valueStr" && !df.columns.contains(c)) lit(null)
         else col(c))
          .cast(TsdbTable.RawSchema(c).dataType).as(c)
      } ++ Seq((if (tomb) col("labels_str") else Labels.canonical(col("labels"))).as("labels_str")) ++
        (if (tombstones.isDefined) Seq(lit(tomb).as("__del")) else Nil): _*)
    val rows = (inserts.map(project(_, tomb = false)).toSeq ++
        tombstones.map(project(_, tomb = true)))
      .reduce(_.unionByName(_))
      .withColumn("series_id", Labels.seriesIdOf(col("name"), col("labels_str")))
      .withColumn("part_start", partStart(col("time")))
      // NULL time rejects loudly (r15): since the DSv2 write resolves
      // by name (no ACCEPT_ANY_SCHEMA), a frame missing `time` arrives
      // null-filled — and the range clamp below would silently drop
      // EVERY row of it. Out-of-range non-null times keep the silent
      // clamp (reference parity). assert_true returns NULL on pass.
      .filter(assert_true(col("time").isNotNull,
          lit("graft append: NULL time — the sample schema requires " +
            "non-null (name, labels, time)")).isNull &&
        col("time").between(graft.core.TimeUtil.MinTimeMs, graft.core.TimeUtil.MaxTimeMs))
      // consumed by the summaries, the raw write and the rollup merge —
      // evaluate the upstream plan once
      .persist()
    try {
      // ONE pass over the cached inserts yields the type-enforcement
      // verdict AND the touched-partition/name summaries
      val (newSeriesEnc, touchedIns, batchNames, releaseEnc) =
        if (inserts.isEmpty) (None, Nil, Set.empty[String], () => ())
        else enforceSeriesTypes(
          if (tombstones.isDefined) rows.filter(!col("__del")) else rows)
      try {
        import spark.implicits._
        // the tombstones' (part_start, name) pairs
        val deleted =
          if (tombstones.isEmpty) Nil
          else distinctRows[(Long, String)](rows.filter(col("__del")).select("part_start", "name"))
        val touchedDel = deleted.map(_._1).distinct
        val touched = (touchedIns ++ touchedDel).distinct
        if (touched.isEmpty) return false
        // batch sequence for last-write-wins merge-on-read (config.overrideOld)
        // AND reader-atomic visibility (committed-watermark filter in
        // rawFiles); constant per batch → RLE'd to nothing in parquet.
        // In-batch ties on (series, time) are the caller's bug, as in the
        // reference (one UpdateItem per sample — later batches win, not
        // later rows)
        val seq = nextSeq()
        rows.withColumn("__seq", lit(seq))
          // shuffle on (time partition, series shard): keeps any one
          // (series, time) run inside one task, with writes into each
          // partition dir spread over the shards (the reference's
          // sharding-key scans, P2) — unless AQE coalesces a small shuffle,
          // which runs the whole write in one task
          .repartition(col("part_start"),
            pmod(col("series_id"), lit(config.shardingBuckets.toLong)))
          // part_start FIRST: the dynamic-partition writer requires rows
          // ordered by the partition column and inserts its own (unstable)
          // sort when the child ordering doesn't already satisfy it —
          // which silently destroyed the (series_id, time) run inside each
          // file (caught by the DSv2 MOR merge reader's sortedness guard).
          // With the partition column as sort prefix the writer's
          // requirement is satisfied, no re-sort happens, and every file
          // really is one sorted (series_id, time) run — the property the
          // row-group-skipping docs claim and the shuffle-free MOR merge
          // relies on.
          .sortWithinPartitions("part_start", "series_id", "time")
          .write.mode(SaveMode.Append).partitionBy("part_start").parquet(rawPath)

        // the mutation becomes reader-visible HERE, atomically: before this
        // point its files carry an uncommitted __seq and every reader's
        // watermark filter excludes them (a crash leaves only invisible
        // garbage, purged by the next compaction); after it the whole
        // mutation is in. Committed before the rollup refresh so the
        // refresh's own raw read sees the rows it is rolling up. `false`
        // = a concurrent retry of the same idempotent-writer tag beat us
        // to the commit (TOCTOU window the commitSeq re-check closes):
        // the batch IS in the table — just not via this attempt's files,
        // which stay invisible orphans — so post-commit bookkeeping
        // (types, rollups, names) already happened and must not re-run.
        if (!commitSeq(seq, txn = txn)) return false
        // Post-commit bookkeeping — all three AFTER the commit (readers
        // must never see rollup/registry state for uncommitted raw rows;
        // a failed mutation must not pin types of series that never
        // landed), but independent of EACH OTHER (disjoint outputs:
        // series_enc/, rollup/, names/), so they run concurrently
        // (guide §2.6 overlap independent jobs): each is a small
        // driver-planned action whose tasks nowhere near fill the
        // cluster, and the append path pays their wall-clock on every
        // batch. Each was already individually crash-tolerated
        // (self-healing overwrite / repair paths), so one failing while
        // the others complete leaves the same states a crash between
        // sequential steps could. First failure rethrows.
        val tasks = Seq[(String, () => Unit)](
          "series_enc" -> (() => newSeriesEnc.foreach(recordSeriesTypes)),
          "rollup" -> (() =>
            if (touchedDel.nonEmpty) {
              // an emptied partition's rollup must not outlive its data —
              // dynamic overwrite can't clear a partition it writes no
              // rows for
              val live = distinctRows[Long](
                merged().filter(col("part_start").isin(touched: _*)).select("part_start")).toSet
              touched.filterNot(live).foreach(dropRollupPartitionAt)
              refreshRollup(touched.filter(live))
            }
            // incremental merge requires batch ∩ existing = ∅, which
            // overrideOld rewrites violate by design — force the
            // recompute (MOR read) path
            else if (incrementalRollup && !config.overrideOld) mergeRollup(rows, touched)
            else refreshRollup(touched)),
          // names is a tiny dimension: merge the batch's names driver-side
          // instead of rescanning raw. A tombstone may have killed a name's
          // last rows, which only the merged view can tell: such a batch
          // probes its own names there
          "names" -> (() => mergeNames(batchNames,
            probe = if (deleted.isEmpty) Set.empty else deleted.map(_._2).toSet ++ batchNames)))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = tasks.map { case (n, f) =>
          val t = new Thread(() =>
            try f() catch { case e: Throwable => errs.add(e) },
            s"graft-land-$n")
          t.start(); t
        }
        threads.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        true
      } finally releaseEnc()
    } finally rows.unpersist()
  }

  /** The distinct rows of a narrow `df`, in one job with no shuffle:
    * each task dedups its own rows and the driver merges the (small)
    * sets. */
  private def distinctRows[T: org.apache.spark.sql.Encoder](df: DataFrame): Seq[T] =
    df.as[T].mapPartitions(_.toSet.iterator).collect().toSeq.distinct

  /** Series type-safety rule (reference `appender.go:244-254`): a series is
    * either numeric or variant ("string") — never both. The reference keeps
    * the series' encoding on its KV item (`_enc`, `store.go:449`) and
    * rejects a mismatched `Add`; here the per-series encoding lives in a
    * `series_enc/` sidecar (series_id → variant flag), appended to only
    * when NEW series arrive, and a whole batch is rejected on the first
    * conflicting series (batch granularity instead of per-sample — the
    * Spark-shaped equivalent). Cost: one map-side-combined pass over the
    * cached batch plus a scan of the sidecar, whose size is the series
    * cardinality, not the sample count. Deleted series keep their sidecar
    * entry, so re-creating a series under the other type stays rejected
    * (conservative vs the reference, whose in-memory cache has the same
    * behavior until eviction).
    *
    * Returns the batch's NEW series encodings for the caller to record
    * AFTER the raw write succeeds — recording first would pin the type of
    * series whose data never landed — plus the touched time partitions and
    * metric names, which ride along in the same per-series aggregate so the
    * append path scans the batch once, not once per summary. The last
    * element is the RELEASE handle for the cached per-series frame the
    * new-series rows read from — the caller invokes it once the sidecar
    * write (or the failure path) no longer needs them. */
  private def enforceSeriesTypes(
      batch: DataFrame): (Option[DataFrame], Seq[Long], Set[String], () => Unit) = {
    val batchEnc = batch
      .groupBy("series_id")
      .agg(first("name").as("name"),
        first("labels_str").as("labels_str"),
        first("labels").as("labels"),
        max(col("valueStr").isNotNull).as("has_var"),
        max(col("valueStr").isNull).as("has_num"),
        // null-identity detection (r15): with by-name write resolution a
        // frame missing name/labels arrives null-filled — those rows
        // must reject loudly, not land as unreadable garbage series
        max(col("name").isNull || col("labels").isNull).as("has_null_key"),
        collect_set("part_start").as("parts"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(seriesEncPath), spark.sparkContext.hadoopConfiguration)
    recoverSeriesEnc(fs)
    val dirPath = new org.apache.hadoop.fs.Path(seriesEncPath)
    val existing =
      if (!fs.exists(dirPath)) None
      // a crash during the very FIRST append can leave the dir with only
      // uncommitted task temp files (no .parquet footer) — nothing was
      // ever pinned, so treating it as absent is exact. But committed
      // footers that fail to READ mean real pinned encodings are
      // inaccessible: silently unpinning every series would be the exact
      // failure this sidecar exists to prevent — fail the append loudly
      else if (!fs.listStatus(dirPath).exists(_.getPath.getName.endsWith(".parquet"))) None
      else Some(spark.read.schema(TsdbTable.SeriesEncSchema).parquet(seriesEncPath)
        .select(col("series_id"), col("variant").as("old_variant")))
    val joined = (existing match {
      case Some(e) => batchEnc.join(e, Seq("series_id"), "left")
      case None    => batchEnc.withColumn("old_variant", lit(null).cast("boolean"))
    })
      // r16 (guide §1.2/§2.3): this frame — the per-series aggregate over
      // the whole cached batch, now carrying the registry's name/
      // labels_str/labels columns — used to be executed TWICE per append:
      // once for the summary probe below and again when the caller wrote
      // the new-series rows. It is series-cardinality-sized (tiny next to
      // the batch), so cache it and run the wide batch aggregate once.
      .persist()
    val flipCond = col("old_variant").isNotNull && (col("old_variant") =!= col("has_var"))
    // flip name and direction must come from the SAME row (two series
    // flipping in opposite directions would otherwise mix pairings)
    val s = joined.agg(
      max(when(col("has_var") && col("has_num"), col("name"))).as("mixed"),
      max(when(flipCond, struct(col("name"), col("has_var")))).as("flip"),
      coalesce(sum(when(col("old_variant").isNull, 1L)), lit(0L)).as("new_cnt"),
      array_distinct(flatten(collect_set(col("parts")))).as("touched"),
      collect_set(col("name")).as("names"),
      coalesce(max(col("has_null_key")), lit(false)).as("any_null_key")).head()
    try {
      if (s.getBoolean(5))
        throw new IllegalArgumentException(
          "graft append: NULL name or labels — the sample schema requires " +
            "non-null (name, labels, time); a frame missing those columns " +
            "arrives null-filled and must be fixed at the source")
      if (s.getString(0) != null)
        throw new IllegalArgumentException(
          s"series type mismatch: batch mixes numeric and string samples for metric '${s.getString(0)}'")
      if (!s.isNullAt(1)) {
        val flip = s.getStruct(1)
        val (newT, oldT) =
          if (flip.getBoolean(1)) ("string", "numeric") else ("numeric", "string")
        throw new IllegalArgumentException(
          s"Cannot append $newT type metric to $oldT type metric ('${flip.getString(0)}').")
      }
      val newEnc =
        if (s.getLong(2) > 0)
          // name + labels_str ride along (r15): the sidecar doubles as the
          // SERIES REGISTRY — the reference's series-to-sharding-key index
          // (`pkg/partmgr/partmgr.go:459-468`) that lets label predicates
          // resolve to a series_id set at query planning. Reads the
          // cached frame — the caller's post-commit sidecar write replays
          // nothing and holds the release handle that unpersists it
          Some(joined.filter(col("old_variant").isNull)
            .select(col("series_id"), col("has_var").as("variant"),
              col("name"), col("labels_str"),
              // the REAL map too: labels_str is canonical but not
              // escape-safe (a value containing ','/'=' doesn't parse
              // back) — registry matching must use exact map semantics
              col("labels")))
        else None
      (newEnc, s.getSeq[Long](3), s.getSeq[String](4).toSet,
        () => { joined.unpersist(); () })
    } catch {
      case t: Throwable => joined.unpersist(); throw t
    }
  }

  /** Resolve a conjunction of label equalities to the ids of the series
    * carrying ALL of them, ascending — the one series-set resolver behind
    * [[select]]'s raw-scan pruning and the DSv2 label-scan options
    * (reference P1/P2 filter-to-sharding-key scan,
    * `pkg/partmgr/partmgr.go:459-468`, `pkg/pquerier/select.go:598`).
    *
    * The series registry is the `series_enc` sidecar (series_id → name,
    * labels_str, labels for every series ever ingested), so it costs the
    * append path nothing beyond its type-safety pass. Resolution runs on a
    * driver-side postings index (label key → value → sorted ids, the
    * Prometheus postings shape), one per table, valid for one sidecar
    * version: every resolution recovers an interrupted sidecar swap, takes
    * the sidecar's listing stamp, and drops the index when the stamp
    * moved. A key's postings load on first use with ONE job over a
    * listing taken after the stamp, so they cover at least the stamped
    * version (a superset is safe: pruning only ever keeps extra series);
    * a conjunction is then an in-memory intersection — no job, no
    * schema inference. Driver memory is O(series carrying each queried
    * key).
    *
    * None = do not prune: no label conjunct, no sidecar, more than
    * [[TsdbTable.MaxPruneSeries]] matches, or a sidecar holding rows
    * written before the registry columns existed (an incomplete index
    * would silently drop the unindexed series' rows; the gate rides the
    * same job). Deleted series linger — superset semantics, safe for
    * pruning, like the reference's cached items. */
  private[graft] def resolveSeries(labelEq: Seq[(String, String)]): Option[Array[Long]] = {
    if (labelEq.isEmpty) return None
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(seriesEncPath), spark.sparkContext.hadoopConfiguration)
    recoverSeriesEnc(fs)
    val dirPath = new org.apache.hadoop.fs.Path(seriesEncPath)
    val stamp =
      if (!fs.exists(dirPath)) Nil
      else fs.listStatus(dirPath).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    if (stamp.isEmpty) return None
    val index = TsdbTable.postingsAt(fs.makeQualified(dirPath).toString, stamp)
    val lists = labelEq.map { case (k, v) =>
      seriesPostings(index, k).map(_.getOrElse(v, Array.emptyLongArray))
    }
    if (lists.exists(_.isEmpty)) None
    else Some(TsdbTable.intersectSorted(lists.map(_.get)))
      .filter(_.length <= TsdbTable.MaxPruneSeries)
  }

  /** Key `k`'s postings in `index`, loaded on first use; None when the
    * sidecar version is incomplete (pre-registry rows). */
  private def seriesPostings(index: TsdbTable.SeriesPostings,
                             k: String): Option[Map[String, Array[Long]]] =
    index.synchronized {
      if (index.incomplete) None
      else index.byKey.get(k).orElse {
        val bad = col("labels_str").isNull || col("name").isNull
        val rows = spark.read.schema(TsdbTable.SeriesEncSchema).parquet(seriesEncPath)
          .select(bad.as("bad"), element_at(col("labels"), lit(k)).as("v"), col("series_id"))
          .filter(col("bad") || col("v").isNotNull)
          .collect()
        if (rows.exists(_.getBoolean(0))) { index.incomplete = true; None }
        else {
          val byValue = rows.groupMap(_.getString(1))(_.getLong(2))
            .map { case (v, ids) => v -> ids.sorted.distinct }
          index.byKey(k) = byValue
          Some(byValue)
        }
      }
    }

  /** Record new series encodings (one small appended file per batch that
    * actually had new series) and bound the sidecar's file count: past 64
    * files, rewrite into one — amortized O(1) per batch, keeps the
    * per-append sidecar scan from degrading on long-lived streaming
    * tables.
    *
    * The compaction swap is CRASH-ATOMIC via two renames (write tmp →
    * move live dir aside → move tmp in → drop the aside copy): at every
    * crash point either the live dir still exists, or a fully-committed
    * `.tmp` / the complete `.old` copy does — [[recoverSeriesEnc]] rolls
    * the swap forward or back on the next table operation. The previous
    * delete-then-rename left a window with NO sidecar at all, which a
    * later append would read as "no pinned series" and silently re-type
    * everything. */
  private def recordSeriesTypes(newRows: DataFrame): Unit = {
    newRows.coalesce(1).write.mode(SaveMode.Append).parquet(seriesEncPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(seriesEncPath), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(seriesEncPath)
    val tmp = new org.apache.hadoop.fs.Path(seriesEncPath + ".tmp")
    val old = new org.apache.hadoop.fs.Path(seriesEncPath + ".old")
    if (fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet")) > 64) {
      // declared schema: a mixed legacy/registry sidecar (2-col + 5-col
      // files) compacts to the FULL schema, legacy rows null-filled —
      // a sampled one would silently drop name/labels_str and wipe
      // registry rows
      val all = spark.read.schema(TsdbTable.SeriesEncSchema).parquet(seriesEncPath)
      all.coalesce(1).write.mode(SaveMode.Overwrite).parquet(seriesEncPath + ".tmp")
      fs.delete(old, true) // stale leftover from a long-ago crash, if any
      fs.rename(dir, old)
      fs.rename(tmp, dir)
      fs.delete(old, true)
    }
  }

  /** Finish or roll back a compaction swap interrupted by a crash (see
    * [[recordSeriesTypes]]); also reaps completed-swap leftovers. Called
    * before every sidecar read — three cheap existence probes in the
    * common path. */
  private def recoverSeriesEnc(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val dir = new org.apache.hadoop.fs.Path(seriesEncPath)
    val tmp = new org.apache.hadoop.fs.Path(seriesEncPath + ".tmp")
    val old = new org.apache.hadoop.fs.Path(seriesEncPath + ".old")
    if (!fs.exists(dir)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        // crash between the two renames: tmp was fully committed before
        // the live dir moved aside — finish the swap forward
        fs.rename(tmp, dir)
        fs.delete(old, true)
      } else if (fs.exists(old)) {
        // crash with an incomplete tmp: the aside copy is authoritative
        fs.delete(tmp, true)
        fs.rename(old, dir)
      }
      // neither: the table genuinely has no sidecar yet
    } else {
      // the live dir is authoritative whenever it exists: reap BOTH
      // leftovers (a committed .tmp from a crash before the first rename
      // would otherwise linger and resurrect stale pins after a full wipe)
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Upsert new metric names into the names dim (reference S9, first-write
    * PutItem — `store.go:189-202`); no-op when nothing changes. The
    * names in `probe` (a tombstone batch's) take their presence from the
    * merged view, so a name whose last live row went drops out. The swap
    * (write `names.tmp` → delete `names/` → rename) is finished here when
    * a crash interrupted it, the way [[recoverSeriesEnc]] finishes the
    * sidecar's; a `names/` without `_SUCCESS` (an interrupted in-place
    * [[refreshNames]] overwrite) is rebuilt from the merged view. Read
    * as "no names yet", either state would shrink the dimension to this
    * batch's names. */
  private def mergeNames(batchNames: Set[String], probe: Set[String]): Unit = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(namesPath), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(namesPath)
    val tmp = new org.apache.hadoop.fs.Path(namesPath + ".tmp")
    if (!fs.exists(dir)) {
      // a crash between the delete and the rename: the committed tmp
      // holds every name — finish the swap forward
      if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) fs.rename(tmp, dir)
    } else if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"))) {
      // the batch is committed, so the merged view already holds its names
      refreshNames()
      return
    } else if (fs.exists(tmp)) fs.delete(tmp, true) // stale: the live dir is authoritative
    val existing: Set[String] =
      if (!fs.exists(dir)) Set.empty // a fresh table: no names yet
      else spark.read.schema(TsdbTable.NamesSchema).parquet(namesPath)
        .collect().map(_.getString(0)).toSet
    val next =
      if (probe.isEmpty) existing ++ batchNames
      else existing -- probe ++ distinctRows[String](
        merged().filter(col("name").isin(probe.toSeq: _*)).select("name"))
    if (next != existing) {
      next.toSeq.sorted.toDF("name")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(namesPath + ".tmp")
      fs.delete(dir, true)
      fs.rename(tmp, dir)
    }
  }

  /** Incremental rollup maintenance: union the existing partials of the
    * touched partitions with the batch's fresh partials and re-merge with
    * the A2 algebra (count/sum/sqr add, min/max merge, last by bucket) —
    * never rescans raw. Output lands in a temp dir first because the
    * existing rollup partitions are INPUTS of the same plan (parquet
    * self-overwrite reads zero rows). */
  private def mergeRollup(batch: DataFrame, partitions: Seq[Long]): Unit = {
    if (partitions.isEmpty) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rollupPath), spark.sparkContext.hadoopConfiguration)
    val partials = Aggregates.withCompanions(("count" +: config.aggregates).distinct)
    val fresh = Rollup.build(batch, config.rollupIntervalMs, config.aggregates)
    val existingDirs = partitions.filter(p =>
      fs.exists(new org.apache.hadoop.fs.Path(rollupPath, s"part_start=$p")))
    // same-bucket partials order `last` by the last-sample time companion
    val ord = if (partials.contains("last_t")) col("__p_last_t") else col("bucket_start")
    val merged = (if (existingDirs.isEmpty) fresh else {
      val existing = rollupFrame(rollupPath, Nil)
        .filter(col("part_start").isin(existingDirs: _*))
        .drop("part_start")
      fresh.unionByName(existing)
        .groupBy("name", "labels_str", "bucket_start")
        .agg(
          Aggregates.mergeExpr(partials.head, col("__p_" + partials.head), ord)
            .as("__p_" + partials.head),
          partials.tail.map(f =>
            Aggregates.mergeExpr(f, col("__p_" + f), ord).as("__p_" + f)): _*)
    }).withColumn("part_start", partStart(col("bucket_start")))

    val tmp = s"$path/.rollup_tmp"
    merged.write.mode(SaveMode.Overwrite).partitionBy("part_start").parquet(tmp)
    partitions.foreach { p =>
      val src = new org.apache.hadoop.fs.Path(tmp, s"part_start=$p")
      val dst = new org.apache.hadoop.fs.Path(rollupPath, s"part_start=$p")
      if (fs.exists(src)) {
        fs.delete(dst, true)
        fs.mkdirs(dst.getParent)
        fs.rename(src, dst)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // pre-aggregate tables keep the recompute path (repair-style)
    if (config.preAggregates.nonEmpty) refreshPreAgg(partitions)
  }

  private def preAggPath(subset: Seq[String]): String =
    s"$path/rollup_agg/${subset.mkString("_")}"

  /** Rollup schemas by key spec (Nil = the per-series rollup), derived by
    * ANALYSIS of [[Rollup.build]] over an empty raw frame — it
    * stays the one definition of the partial columns and their types. */
  private val rollupSchemas =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], StructType]()

  private def rollupSchema(keys: Seq[String]): StructType =
    rollupSchemas.computeIfAbsent(keys, _ => {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), TsdbTable.RawSchema)
      Rollup.build(empty, config.rollupIntervalMs, config.aggregates,
          keys = if (keys.isEmpty) Nil else Rollup.preAggKeys(keys))
        .schema.add("part_start", LongType)
    })

  /** The rollup (`keys` = Nil) or a pre-aggregate table (`keys` = its
    * label subset) under its declared schema — no inference job. */
  private def rollupFrame(dir: String, keys: Seq[String]): DataFrame =
    spark.read.schema(rollupSchema(keys)).parquet(dir)

  /** Recompute rollup partials for the given partitions from raw — the
    * batch analog of the reference's ingest-time `_v_*` array updates
    * (A1); dynamic partition overwrite touches only affected partitions.
    * Also refreshes the configured pre-aggregate cross-label tables (A7).
    * One cached scan of the touched raw partitions feeds the series rollup
    * AND every pre-aggregate table (each is just a different grouping of
    * the same rows — re-reading raw per table would multiply the scan). */
  def refreshRollup(partitions: Seq[Long]): Unit = {
    if (partitions.isEmpty) return
    // MOR dedup before rebuilding — superseded versions must not be
    // double-counted into the partials
    val raw = merged().filter(col("part_start").isin(partitions: _*))
    val src = if (config.preAggregates.nonEmpty) raw.persist() else raw
    try {
      writeRollup(Rollup.build(src, config.rollupIntervalMs, config.aggregates), rollupPath)
      preAggsFrom(src)
    } finally if (config.preAggregates.nonEmpty) src.unpersist()
  }

  private def refreshPreAgg(partitions: Seq[Long]): Unit = {
    if (config.preAggregates.isEmpty || partitions.isEmpty) return
    preAggsFrom(merged().filter(col("part_start").isin(partitions: _*)))
  }

  private def preAggsFrom(raw: DataFrame): Unit =
    config.preAggregates.foreach { subset =>
      writeRollup(
        Rollup.build(raw, config.rollupIntervalMs, config.aggregates,
          keys = Rollup.preAggKeys(subset)),
        preAggPath(subset))
    }

  /** Dynamic partition overwrite, set on THIS write: the session-wide
    * conf would leak into the concurrent post-commit writes of
    * [[append]]. */
  private def writeRollup(df: DataFrame, out: String): Unit =
    df.withColumn("part_start", partStart(col("bucket_start")))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy("part_start").parquet(out)

  /** Names dimension (reference names directory S9, `store.go:189-202`).
    * Rebuilt from the MERGED view: under MOR a tombstone-deleted metric
    * still has physical rows until compaction, and a raw-file scan would
    * resurrect it into the names list. */
  def refreshNames(): Unit = {
    val names = merged().select("name").distinct()
    names.coalesce(1).write.mode(SaveMode.Overwrite).parquet(namesPath)
  }

  /** True iff the dir holds at least one data partition (a bare _SUCCESS
    * marker does not count). */
  private def hasPartitions(p: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(p), spark.sparkContext.hadoopConfiguration)
    val hp = new org.apache.hadoop.fs.Path(p)
    fs.exists(hp) && fs.listStatus(hp).exists(_.getPath.getName.startsWith("part_start="))
  }

  /** The merged raw view: committed rows only, the newest `__seq`
    * version of each (series, time) under `config.overrideOld` with
    * tombstone winners dropped — the classic MOR pattern (Hudi/Delta read
    * path; plain parquet has no MERGE). It is one DSv2 relation over
    * [[graft.sources.GraftScan]], handed this instance's config: MOR
    * tables merge in a shuffle-free k-way merge over the sorted files of
    * each partition, append-only tables read file-parallel with no
    * merge. Callers narrow it with plain filters — `part_start`, `time`
    * and `name` conjuncts push into the scan, where they prune partition
    * directories, row groups and rows. `labelEq` are label-equality
    * conjuncts: the scan resolves them through [[resolveSeries]] and
    * prunes by the series set, or tests each row's labels map when they
    * do not resolve. */
  private def merged(asOf: Option[Long] = None,
                     labelEq: Seq[(String, String)] = Nil): DataFrame =
    graft.sources.GraftRawRead(config, asOf, labelEq).frame(spark, path)

  /** Raw table pruned to the queried partitions (partition pruning is a
    * pushed `part_start` filter — check `.explain` PartitionFilters). */
  def readRaw(fromMs: Long, toMs: Long): DataFrame =
    readRawImpl(fromMs, toMs, None)

  /** SNAPSHOT read (r8 time travel): the raw table exactly as it stood
    * when `asOfSeq` was the newest committed batch — admit committed
    * batches with `__seq <= asOfSeq` only, then merge-on-read, so LWW
    * resolves to the version live AT that seq and tombstones written
    * later fall away (deleted rows reappear in older snapshots, as they
    * must). Batch seqs are wall-clock milliseconds ([[nextSeq]]), so a
    * snapshot handle doubles as an approximate wall-clock time; take one
    * with [[currentSeq]]. Reaches back to the `horizon` fence only —
    * physical rewrites (compaction / retention / partition-drop deletes)
    * destroy older generations and snapshot reads below the fence throw
    * rather than serve a torn view. Delta `VERSION AS OF` / Iceberg
    * snapshot-id reads are the production analogs. */
  def readRawAsOf(fromMs: Long, toMs: Long, asOfSeq: Long): DataFrame =
    readRawImpl(fromMs, toMs, Some(asOfSeq))

  private def readRawImpl(fromMs: Long, toMs: Long, asOf: Option[Long],
                          labelEq: Seq[(String, String)] = Nil): DataFrame = {
    asOf.foreach { s =>
      require(s > 0,
        s"asOfSeq=$s is not a snapshot handle: take one with " +
          "currentSeq() on a table with a commit manifest (seqs are " +
          "wall-clock ms — always positive); a manifest-less legacy table " +
          "has no version history to travel to")
      // a fenced handle fails HERE, when the read is built; the scan
      // reads the manifest again after its file listing
      commitsSnapshotAsOf(s)
    }
    val pLo = (fromMs / config.partitionIntervalMs) * config.partitionIntervalMs
    merged(asOf, labelEq).filter(col("part_start").between(pLo, toMs))
  }

  /** The newest committed batch seq — the snapshot handle for
    * [[readRawAsOf]]/[[selectAsOf]]/[[changes]]. STRICT manifest read
    * (review-caught): the lenient fallback would return 0 on a
    * transient read error, and a later `asOf` read at handle 0 would
    * silently serve an EMPTY snapshot — a handle must be real or the
    * call must fail. 0 only on a genuinely manifest-less table
    * (legacy/external data — no version history; snapshot reads reject
    * the 0 handle loudly). */
  def currentSeq(): Long = readCommits(strict = true).map(_.max).getOrElse(0L)

  /** Up to `limit` commit boundaries above `afterSeq`, ascending — the
    * CDC streaming source's rate-limit unit (seqs are wall-clock ms, so
    * a seq DELTA is meaningless as a batch bound; a count of commits is
    * the unit a commit-log source batches by). History below the
    * vacuum floor has no per-commit identity anymore and surfaces as
    * ONE boundary at the floor. */
  private[graft] def commitBoundaries(afterSeq: Long, limit: Int): Seq[Long] =
    readCommits(strict = true) match {
      case None => Seq.empty
      case Some(c) =>
        val fl = if (c.floor > afterSeq) Seq(c.floor) else Seq.empty
        val above = c.seqs.filter(s => s > afterSeq && s > c.floor).toSeq.sorted
        (fl ++ above).take(math.max(1, limit))
    }

  /** Materialize the table AS OF `seq` into a brand-new table at
    * `destPath` — the reproducible-snapshot EXPORT (training runs pin a
    * corpus state against later mutation and compaction; the deep-CLONE
    * analog of Delta's CLONE VERSION AS OF): one snapshot read appended
    * into a fresh table that builds its own manifest, rollup and names —
    * fully independent of this table's future, including the rewrites
    * that will eventually fence `seq` here. Rollup/pre-agg config of the
    * clone defaults to this table's. */
  def cloneAt(seq: Long, destPath: String,
              destConfig: TsdbConfig = config): TsdbTable = {
    val dest = new TsdbTable(spark, destPath, destConfig)
    dest.append(readRawAsOf(0L, Long.MaxValue / 2, seq)
      .select("name", "labels", "time", "value", "valueStr"))
    dest
  }

  /** The commit log as a small DataFrame — the `DESCRIBE HISTORY`
    * analog, bounded by what the exact-set manifest retains: one
    * `commit` row per retained committed seq (compaction/vacuum collapse
    * older seqs into `floor`, summarized by its row), plus the
    * time-travel `horizon` fence. Seqs are wall-clock ms, so the log
    * doubles as rough mutation timestamps. Strict manifest read — a
    * listing must be real or fail; empty on a manifest-less legacy
    * table. */
  def history(): DataFrame = {
    import spark.implicits._
    readCommits(strict = true) match {
      case None => Seq.empty[(String, Long)].toDF("kind", "seq")
      case Some(c) =>
        (Seq("floor" -> c.floor, "horizon" -> c.horizon) ++
          c.seqs.toSeq.sorted.map("commit" -> _)).toDF("kind", "seq")
    }
  }

  def readRollup(): DataFrame = rollupFrame(rollupPath, Nil)

  /** The names dimension as last committed: `names/` when its write
    * finished, else the committed `names.tmp` of an interrupted swap,
    * else (an interrupted in-place overwrite, or no dimension written
    * yet) the merged view's distinct names. Writes nothing: the next
    * landing repairs the dimension ([[mergeNames]]). */
  def names(): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(namesPath), spark.sparkContext.hadoopConfiguration)
    def committed(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val stored = Seq(namesPath, namesPath + ".tmp").find(committed)
      .filter(p => p == namesPath || !fs.exists(new org.apache.hadoop.fs.Path(namesPath)))
    QueryEngine.ordered(stored match {
      case Some(p) => spark.read.schema(TsdbTable.NamesSchema).parquet(p)
      case None if hasPartitions(rawPath) => merged().select("name").distinct()
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TsdbTable.NamesSchema)
    }, col("name"))
  }

  def countMetrics(): Long = merged().count()

  private def partitionStarts(): Seq[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(rawPath)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("part_start="))
      .map(_.stripPrefix("part_start=").toLong).sorted
  }

  /** Empty all-string frame for discovery APIs on an empty table. */
  private def emptyStringDf(names: String*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(names.map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType))))

  private def recentPartitions(n: Int): Option[DataFrame] = {
    val parts = partitionStarts().takeRight(n)
    if (parts.isEmpty) None
    else Some(merged().filter(col("part_start").isin(parts: _*)))
  }

  /** Distinct label sets, scanning only the LAST TWO time partitions —
    * the reference's explicit perf bound ("Because of performance issues
    * we only want to query the last two partitions", `GetLabelSets`,
    * `pquerier/querier.go:346-350`). Discovery answers come from recent
    * data; an unbounded variant is [[QueryEngine.labelSets]] over
    * [[readRaw]]. */
  def labelSets(metric: String = ""): DataFrame =
    recentPartitions(2).map(QueryEngine.labelSets(_, metric))
      .getOrElse(emptyStringDf("name", "labels_str"))

  /** Distinct values of one label key, scanning a single partition like
    * the reference (`getLabelValues` queries `partitionPaths[0]` only,
    * `pquerier/querier.go:257-276`); we pick the NEWEST partition — same
    * bounded cost, fresher answers. */
  def labelValues(key: String): DataFrame =
    recentPartitions(1).map(QueryEngine.labelValues(_, key))
      .getOrElse(emptyStringDf("value"))

  /** The aggregate-pushdown planner (reference `CanAggregate`,
    * `aggregationParams.go:67-77` + mixed-mode/precision overrides,
    * `select.go:206-248`): serve from the materialized rollup iff the
    * rollup is coarse enough to help (step/rollup > coefficient), aligns
    * (step divisible), covers the requested aggregates, the window (if
    * any) is at least one rollup cell, and the query doesn't demand
    * raw-only semantics (cross-series resampling, downsample, precise). */
  def canServerAggregate(p: SelectParams): Boolean = {
    val fns = p.baseFunctions
    val step = p.effectiveStep
    fns.nonEmpty &&
      !p.isCrossSeries &&
      !p.usePreciseAggregations &&
      p.windows.isEmpty &&
      // sliding windows serve from the rollup when the window covers at
      // least one rollup cell (reference CanAggregate,
      // aggregationParams.go:77) AND at least one step — below that the
      // reference's degenerate single-cell branch applies and the raw
      // path is both exact and cheap, so we fall back instead
      (p.aggregationWindow == 0 ||
        (p.aggregationWindow >= config.rollupIntervalMs && p.aggregationWindow >= step)) &&
      (step / config.rollupIntervalMs > config.useServerAggregateCoefficient ||
        (step == config.rollupIntervalMs && config.disableClientAggregation)) &&
      step % config.rollupIntervalMs == 0 &&
      fns.flatMap(Aggregates.dependencies).forall(d =>
        ("count" +: config.aggregates).contains(d))
  }

  /** Pre-aggregate table usable iff the GroupBy matches a configured label
    * subset EXACTLY (reference `select.go:261-283`) and the filter doesn't
    * reference labels outside it (the table only materializes the subset). */
  private def matchingPreAgg(p: SelectParams): Option[Seq[String]] =
    config.preAggregates.find(_.toSet == p.groupByLabels.toSet)
      .filter(_ => p.filter.isEmpty || !p.filter.contains("labels["))

  /** Query entry point: plan pre-agg / rollup / raw, then run the engine. */
  def select(p0: SelectParams): DataFrame = {
    // SQL `ASOF n` (r8): route to the snapshot path before any planning —
    // rollup/pre-agg tables carry no history
    if (p0.asOfSeq > 0)
      return selectAsOf(p0.copy(asOfSeq = 0L), p0.asOfSeq)
    if (p0.isMultiMetricAggregate)
      // route BEFORE any step coercion — each metric re-enters this
      // planner and coerces (or not) against its own aggregate coverage
      return QueryEngine.multiAggregateVia(p0, sub => select(sub))
    val p = coerceForRollup(p0)
    val preAgg = if (p.groupByLabels.nonEmpty) matchingPreAgg(p) else None
    if (canServerAggregate(p) && (p.groupByLabels.isEmpty || preAgg.isDefined)) {
      // partition-prune the rollup too — a 1-day query must not scan years
      // of rollup history (widen one rollup cell below `from` for the
      // median-time re-bucketing margin, plus the sliding window reach)
      val pLo = rollupSelectLo(p)
      def pruned(path: String, keys: Seq[String]) =
        rollupFrame(path, keys).filter(col("part_start").between(pLo, p.to))
      preAgg match {
        case Some(subset) =>
          QueryEngine.serverAggregate(pruned(preAggPath(subset), subset), p,
            p.baseFunctions, config.rollupIntervalMs, keyNames = "name" +: subset)
        case None =>
          QueryEngine.serverAggregate(pruned(rollupPath, Nil), p, p.baseFunctions,
            config.rollupIntervalMs)
      }
    } else {
      // the engine reaches BELOW `from` in three cases — widen the raw
      // partition pruning to match (reference PartsForRange(From-window),
      // querier.go:195), else boundary cells silently lose samples:
      //  - sliding windows: cells cover [c-w, c]
      //  - overlapping windows: anchored at maxAligned=floor(to/step)*step,
      //    which can sit up to step-1 BELOW from, minus wins.max*step
      //  - downsample/cross-series: prev/linear interpolation donors within
      //    the tolerance
      rawSelect(p, None)
    }
  }

  /** The raw path of [[select]] and [[selectAsOf]]. The filter's
    * top-level `labels['k'] = 'v'` conjuncts ride into the scan, which
    * resolves them through the series registry, prunes by the set — the
    * reference's filter-to-sharding-key scan (P1,
    * `pkg/pquerier/select.go:598`, `partmgr.go:459-468`) — and emits
    * exactly the rows that satisfy them; only the residual conjuncts
    * filter rows after it. With no other reference to `labels`, the
    * scan decodes no labels map: the engine keys series on the stored
    * `labels_str` ([[QueryEngine]]). */
  private def rawSelect(p: SelectParams, asOf: Option[Long]): DataFrame = {
    val (labelEq, residual) = TsdbTable.labelEqConjuncts(p.filter)
    val raw = readRawImpl(rawSelectLo(p), p.to, asOf, labelEq)
    QueryEngine.select(residual.fold(raw)(raw.filter), p.copy(filter = ""))
  }

  /** disableClientAggr coerces coarser steps down to rollup granularity
    * so the rollup can serve (reference select.go:185-187) — but ONLY
    * when the coerced query really is rollup-served: coercing a query
    * that then falls to the raw path would silently change the requested
    * output granularity (and corrupt overlapping windows, whose spans
    * are step multiples). Shared by [[select]] and [[selectAsOf]] — the
    * planner's granularity contract must not depend on whether a
    * snapshot handle is present. */
  private def coerceForRollup(p0: SelectParams): SelectParams =
    if (config.disableClientAggregation && p0.baseFunctions.nonEmpty &&
        p0.windows.isEmpty && p0.effectiveStep > config.rollupIntervalMs) {
      val coerced = p0.copy(step = config.rollupIntervalMs)
      val preOk = coerced.groupByLabels.isEmpty || matchingPreAgg(coerced).isDefined
      if (canServerAggregate(coerced) && preOk) coerced else p0
    } else p0

  /** The rollup-path partition-pruning lower bound for `p`: one rollup
    * cell below `from` for the median-time re-bucketing margin, plus the
    * sliding-window reach. */
  private def rollupSelectLo(p: SelectParams): Long =
    ((p.from - config.rollupIntervalMs - p.aggregationWindow).max(0L) /
      config.partitionIntervalMs) * config.partitionIntervalMs

  /** The raw-path scan lower bound for `p` — how far BELOW `from` the
    * engine reaches (sliding windows, overlapping-window anchoring,
    * interpolation donors); shared by [[select]]'s raw branch and
    * [[selectAsOf]]. */
  private def rawSelectLo(p: SelectParams): Long = {
    val step = p.effectiveStep
    val interpTol =
      if (p.baseFunctions.isEmpty && p.step > 0 || p.isCrossSeries)
        (Interpolation.defaultTolerance(step) +: p.requestedColumns.map(_.tolerance)).max
      else 0L
    val winLo =
      if (p.windows.nonEmpty) p.from - ((p.to / step) * step - p.windows.max.toLong * step)
      else 0L
    p.from - Seq(p.aggregationWindow, interpTol, winLo).max
  }

  /** Time-travel [[select]]: the query planned EXACTLY like the current
    * view — rollup-served when `CanAggregate` holds (reference
    * `aggregationParams.go:67-77`, the central optimization: wide
    * aggregate queries read `span/rollupInterval` rows per series, not
    * every sample), precise-from-raw otherwise (select.go:206-218
    * semantics). The rollup and pre-aggregate tables are rebuilt in
    * place and carry no version history, so the fast path splits the
    * scan by mutation recency instead (see
    * [[serverAggregateAtSnapshot]]): partitions UNTOUCHED since the
    * snapshot handle serve from the live rollup unchanged (their merged
    * view — and hence their partials — provably equals the snapshot's:
    * MOR mutations always stamp a newer `__seq` into the partition they
    * touch, and physical rewrites fence themselves out via `horizon`);
    * only the touched partitions rebuild their partials from the
    * [[readRawAsOf]] snapshot. Multi-metric aggregates route per-metric
    * like [[select]], each sub-query pinned to the same snapshot. */
  def selectAsOf(p0: SelectParams, asOfSeq: Long): DataFrame = {
    if (p0.isMultiMetricAggregate)
      return QueryEngine.multiAggregateVia(p0, sub => selectAsOf(sub, asOfSeq))
    val p = coerceForRollup(p0)
    val preAgg = if (p.groupByLabels.nonEmpty) matchingPreAgg(p) else None
    val fast =
      if (canServerAggregate(p) && (p.groupByLabels.isEmpty || preAgg.isDefined) &&
          hasPartitions(rawPath))
        serverAggregateAtSnapshot(p, asOfSeq, preAgg)
      else None
    // fallback serves the ORIGINAL params: coerceForRollup's contract is
    // that the step rewrite happens only when the query really is
    // rollup-served — a legacy un-stamped table falling back to raw with
    // the coerced step would return the wrong output granularity
    // (review finding r9)
    fast.getOrElse(
      // registry pruning is snapshot-safe: the registry is a SUPERSET
      // across time (series are only ever added), so the resolved set
      // covers every series live at any earlier seq
      rawSelect(p0, Some(asOfSeq)))
  }

  /** Enumerate the data files under `base` RIGHT NOW and build a reader
    * over exactly that list (`basePath` keeps the `part_start` partition
    * column). Freezing the file list into the plan is what keeps a
    * concurrent commit's rollup refresh from leaking post-snapshot
    * partials into [[serverAggregateAtSnapshot]]'s "untouched" half at
    * execution time: Spark's normal directory scan re-lists files when
    * the ACTION runs, which can be long after the touched-partition
    * classification. A later partition swap over a frozen file surfaces
    * as the documented retryable FileNotFound — never silently wrong
    * data. None = no data files (serve precise-from-raw). `keys` names
    * the rollup's declared schema ([[rollupFrame]]). */
  private def frozenRollup(base: String, keys: Seq[String]): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val it = fs.listFiles(p, true)
    val baseUri = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => fs.makeQualified(f.getPath).toString)
      .filter { f =>
        // EVERY path segment below base must be visible, not just the
        // leaf: Spark's own directory listing skips hidden ANCESTOR dirs
        // too, and a refreshRollup crashed mid-job leaves its
        // .spark-staging-*/ partials under this base forever — freezing
        // those into the plan would double-count partials in the
        // snapshot aggregate (review finding r9, pass 2)
        f.startsWith(baseUri) && f.endsWith(".parquet") &&
          f.stripPrefix(baseUri).split('/')
            .forall(seg => !seg.startsWith("_") && !seg.startsWith("."))
      }.toSeq
    if (files.isEmpty) None
    else Some(spark.read.schema(rollupSchema(keys))
      .option("basePath", base).parquet(files: _*))
  }

  /** The rollup-served snapshot plan: live rollup partials for
    * partitions with no committed batch newer than `asOfSeq`, partials
    * rebuilt from the snapshot raw view for the (few) partitions that
    * DO carry newer batches. None on a manifest-less legacy table (no
    * stamped history → no way to prove untouched-ness →
    * precise-from-raw).
    *
    * Scale shape: the touched-partition probe prunes to the queried
    * partition range and pushes `__seq > asOfSeq` to the parquet scan —
    * `__seq` is constant per file, so row-group stats skip every
    * unchanged file wholesale (the [[changes]] discipline) and the
    * collect is bounded by the partition-directory count. The common
    * case — a snapshot a few batches old on a years-deep table — scans
    * the live rollup plus the handful of recently-written raw files,
    * never deep history.
    *
    * Concurrency: the raw halves freeze the manifest into the plan as
    * literals, and the live-rollup half freezes its FILE LIST
    * ([[frozenRollup]]) BEFORE the touched-partition probe reads the
    * manifest — so a commit racing this planner either refreshed the
    * rollup before the listing (then the probe's newer manifest
    * classifies its partition touched, which rebuilds from the
    * seq-fenced raw snapshot and drops the frozen partials) or after it
    * (then the frozen list still serves the pre-commit partials, which
    * equal the snapshot's); in NEITHER order can post-snapshot partials
    * leak into the untouched half (review finding r9). A concurrent
    * [[mergeRollup]] partition REPLACE during execution surfaces as the
    * documented retryable FileNotFound (rename swaps the dir), never as
    * silently torn cells. */
  private def serverAggregateAtSnapshot(
      p: SelectParams, asOfSeq: Long,
      preAgg: Option[Seq[String]]): Option[DataFrame] = {
    require(asOfSeq > 0,
      s"asOfSeq=$asOfSeq is not a snapshot handle: take one with currentSeq()")
    // ORDER IS LOAD-BEARING: rollup file list first, manifest reads after
    val liveOpt = frozenRollup(preAgg.map(preAggPath).getOrElse(rollupPath),
      preAgg.getOrElse(Nil))
    if (liveOpt.isEmpty) return None
    // history fence up front (STRICT — the raw path's fence must also
    // govern the rollup path: below the fence the live rollup has
    // physically lost the dropped/rewritten generations)
    val commits = readCommits(strict = true)
    commits.map(_.horizon).filter(_ > asOfSeq).foreach { h =>
      throw new IllegalArgumentException(
        s"snapshot seq=$asOfSeq predates the history-rewrite horizon=$h of $path: " +
          "compaction / retention / a partition-drop or non-MOR delete has " +
          "physically removed the file generations this snapshot needs. " +
          "Time travel reaches back only to the most recent rewrite.")
    }
    // a manifest-less legacy table has no stamped history, so no
    // partition can be proven untouched
    if (commits.isEmpty) return None
    val cur = rawFiles()
    val pLo = rollupSelectLo(p)
    val touched = cur
      .filter(col("part_start").between(pLo, p.to) && col("__seq") > asOfSeq)
      .select("part_start").distinct().collect().map(_.getLong(0)).toSeq
    val live = liveOpt.get.filter(col("part_start").between(pLo, p.to))
    val view =
      if (touched.isEmpty) live
      else {
        val snapRaw = merged(Some(asOfSeq))
          .filter(col("part_start").isin(touched: _*))
        val rebuilt = Rollup.build(snapRaw, config.rollupIntervalMs,
            config.aggregates,
            keys = preAgg.map(Rollup.preAggKeys).getOrElse(Nil))
          .withColumn("part_start", partStart(col("bucket_start")))
        live.filter(!col("part_start").isin(touched: _*)).unionByName(rebuilt)
      }
    Some(QueryEngine.serverAggregate(view, p, p.baseFunctions,
      config.rollupIntervalMs,
      keyNames = preAgg.map("name" +: _).getOrElse(Nil)))
  }

  /** CDC read (r8): the net row-level changes committed in
    * `(sinceSeq, untilSeq]` — the incremental-consumer feed (downstream
    * rollup refresh, replication, cache invalidation) that turns the
    * commit manifest into a change log, Delta CDF / Hudi incremental
    * query shaped. Returns raw-schema rows plus `_change_type`:
    *
    *  - `insert`: key had no live version at `sinceSeq`
    *  - `update`: key existed live at `sinceSeq`, newest window version
    *    is a rewrite (post-image values)
    *  - `delete`: key existed live at `sinceSeq`, newest window version
    *    is a tombstone; the row carries the AT-`sinceSeq` pre-image (not
    *    the tombstone's copy — an in-window update-then-delete tombstone
    *    holds the mid-window value, and exact incremental maintenance
    *    must subtract the since-state)
    *
    * A key inserted AND deleted inside the window nets to nothing and is
    * omitted. Non-MOR tables never rewrite, so every window row is an
    * `insert` (no LWW collapse needed). With `preImages` (Delta CDF's
    * `update_preimage` half) each `update` is accompanied by an
    * `update_preimage` row carrying the version live at `sinceSeq` — the
    * pair a downstream incremental maintainer needs to subtract-then-add
    * exactly. Scale shape: the window scan
    * prunes to files whose constant-per-file `__seq` row-group stats
    * intersect the window (changed data only, never the table); the
    * existed-at-since probe PARTITION-PRUNES the snapshot read to the
    * partitions the window touched (the touched list is collected —
    * bounded by the partition-directory count, like partitionStarts —
    * and pushed into the merged scan as a partition filter, so the probe
    * never reads untouched history). Requires
    * `sinceSeq >= horizon` — below the history fence the pre-images are
    * physically gone ([[readRawAsOf]]). */
  def changes(sinceSeq: Long, untilSeq: Long = Long.MaxValue,
              preImages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withType = (df: DataFrame, t: org.apache.spark.sql.Column) =>
      df.withColumn("_change_type", t)
    if (!hasPartitions(rawPath))
      return withType(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TsdbTable.RawSchema),
        lit("insert")).filter(lit(false))
    // STRICT fence check (review-caught): a transient manifest-read
    // error must fail the CDC call, not skip the horizon and serve
    // phantom changes below it
    readCommits(strict = true).map(_.horizon).filter(_ > sinceSeq).foreach { h =>
      throw new IllegalArgumentException(
        s"changes(sinceSeq=$sinceSeq) predates the history-rewrite horizon=$h " +
          s"of $path: pre-images below the fence are physically gone — " +
          "re-seed the consumer from a full snapshot instead.")
    }
    // legacy NULL-seq rows carry no change tracking and never match
    val win = rawFiles().filter(col("__seq") > sinceSeq && col("__seq") <= untilSeq)
    if (!config.overrideOld)
      return withType(win.drop("__seq", "__del"), lit("insert"))
    // MOR: collapse the window to each key's NEWEST version (the net
    // post-image), then classify against the live keys at `sinceSeq`
    val w = Window.partitionBy("series_id", "time").orderBy(col("__seq").desc)
    val post = win.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__seq")
    // touched partitions as PLAN LITERALS: a semi-join alone cannot
    // prune the at-since scan, so the whole table would be read per CDC
    // poll (review-caught) — the list is bounded by the partition count
    val touchedParts = win.select("part_start").distinct()
      .collect().map(_.getLong(0))
    val preLive = merged(Some(sinceSeq)).filter(
      if (touchedParts.isEmpty) lit(false)
      else col("part_start").isin(touchedParts: _*))
    val preKeys = preLive
      .select(col("series_id"), col("time")).distinct()
      .withColumn("__existed", lit(true))
    val del = coalesce(col("__del"), lit(false))
    val existed = coalesce(col("__existed"), lit(false))
    val typed = post.join(preKeys, Seq("series_id", "time"), "left")
      .withColumn("_change_type",
        when(del && existed, lit("delete"))
          .when(del, lit(null).cast("string")) // insert+delete in-window: net no-op
          .when(existed, lit("update"))
          .otherwise(lit("insert")))
      .filter(col("_change_type").isNotNull)
      .drop("__del", "__existed")
    // delete rows re-source their values from the at-since snapshot —
    // the true pre-image (the tombstone's copy is whatever was live at
    // DELETE time, which an in-window update already moved)
    val nonDel = typed.filter(col("_change_type") =!= "delete")
    val delRows = preLive.join(
        typed.filter(col("_change_type") === "delete")
          .select(col("series_id"), col("time")),
        Seq("series_id", "time"), "left_semi")
      .withColumn("_change_type", lit("delete"))
    val out = nonDel.unionByName(delRows)
    if (!preImages) out
    else out.unionByName(
      preLive.join(
        nonDel.filter(col("_change_type") === "update")
          .select(col("series_id"), col("time")),
        Seq("series_id", "time"), "left_semi")
        .withColumn("_change_type", lit("update_preimage")))
  }

  /** One SQL entry point for the dialect (r9): `SELECT ... [ASOF n]`
    * routes through [[select]] (an aggregate-less time range defaults to
    * the full table — the programmatic caller has no CLI `-b/-e` flags
    * to compose); `CHANGES SINCE n [UNTIL m] [WITH PREIMAGES]` through
    * [[changes]] — the CDC feed reachable as SQL text, Delta
    * `table_changes` shaped; `HISTORY` through [[history]] — the commit
    * manifest as rows, so ASOF/CHANGES handles are discoverable without
    * the Scala API (Delta `DESCRIBE HISTORY` shaped). */
  def sql(query: String): DataFrame =
    if (graft.sql.TsdbSql.parseHistory(query)) history()
    else graft.sql.TsdbSql.parseChanges(query) match {
      case Some(c) => changes(c.sinceSeq, c.untilSeq, c.preImages)
      case None =>
        val p = graft.sql.TsdbSql.parse(query)
        select(if (p.to > 0) p
          else p.copy(from = 0L, to = graft.core.TimeUtil.MaxTimeMs))
    }

  /** Compact an overrideOld table: rewrite each partition with the
    * merge-on-read view materialized, dropping superseded row versions so
    * subsequent reads skip the dedup window until the next rewrite burst —
    * the MOR compaction step every merge-on-read system needs (Hudi
    * compaction / Delta OPTIMIZE analog). No-op for non-override tables
    * (their reads are window-free already). Rollups are unchanged: they
    * are always built from the merged view. */
  def compact(): Unit = {
    if (!config.overrideOld) return // no-op probe: don't take the lock
    withWriterLock("compact")(compactImpl())
  }

  /** Compaction commit protocol, reader-atomic (r7): the old
    * delete-dir-then-rename swap exposed a window where the partition
    * was MISSING from a racing reader's listing. Instead the compacted
    * generation lands ALONGSIDE the old files (staged to a dot-dir, then
    * per-file renames into the partition — dot-prefixed while moving, so
    * half-moved files stay invisible to Spark's listing), becomes
    * visible atomically via the `_commits` watermark, and only then are
    * the superseded files deleted. A racing reader therefore sees: old
    * files only (pre view), or old + committed new (merge-on-read keeps
    * the newest version of every row — the post view, content-identical),
    * never a missing partition or a half batch. Crash windows: before
    * commit → invisible garbage (purged by the next compaction, whose
    * visibility-filtered read drops it); after commit before the deletes
    * → duplicates that LWW dedups and the next compaction removes. The
    * residual reader hazard is a reader that RESOLVED old file names
    * just before their deletion and opens them after — a read ERROR on
    * local fs (retry succeeds), never wrong data; object stores with
    * delayed deletes don't even see that. */
  /** Committed-only, UNMERGED read of ONE partition dir — the non-MOR
    * delete's rewrite input (a whole-table read inside a per-partition
    * maintenance loop would re-list every file in the table once per
    * partition). STRICT: rewriting a crashed mutation's orphans under a
    * fresh file would commit them. Unlike [[rawFiles]], the
    * manifest/listing order is immaterial here: this runs on the WRITER
    * side under the single-writer lease, so no concurrent swap can
    * interleave. Legacy rows (no `__seq` in their file) read NULL and
    * stay visible ([[applyVisibility]]). */
  private def visibleDir(dir: org.apache.hadoop.fs.Path): DataFrame =
    applyVisibility(spark.read.schema(TsdbTable.RawDirSchema).parquet(dir.toString),
      readCommits(strict = true))

  /** Land `df`'s rows INSIDE `dir` alongside its existing files: write
    * to a dot-stage (invisible to Spark listings), then per-file rename
    * into the partition. The rows stay reader-invisible until the caller
    * commits their `__seq` — the append-alongside half of
    * compaction's reader-atomic swap. */
  private def stageIntoDir(df: DataFrame, dir: org.apache.hadoop.fs.Path,
                           stageName: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(dir, stageName)
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    fs.listStatus(stage).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(dir, p.getName)))
    fs.delete(stage, true)
  }

  private def compactImpl(): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    var maxSeq = 0L
    partitionStarts().foreach { start =>
      val dir = new org.apache.hadoop.fs.Path(rawPath, s"part_start=$start")
      val old = fs.listStatus(dir).toSeq.map(_.getPath).filter { p =>
        val n = p.getName; !n.startsWith("_") && !n.startsWith(".")
      }
      val seq = nextSeq()
      maxSeq = math.max(maxSeq, seq)
      // committed rows only — an aborted mutation's invisible garbage
      // must not be resurrected under a fresh committed seq
      val keep = merged().filter(col("part_start") === start).drop("part_start")
        // re-stamp so the compacted generation supersedes every old file
        // under LWW, and future rewrites still order after it
        .withColumn("__seq", lit(seq))
        .cache()
      keep.count() // materialize before touching the source files
      stageIntoDir(keep
          .repartition(pmod(col("series_id"), lit(config.shardingBuckets.toLong)))
          .sortWithinPartitions("series_id", "time"),
        dir, ".compact_stage")
      keep.unpersist()
      // the compacted generation becomes visible HERE — and the same
      // manifest write raises the time-travel horizon to this partition's
      // seq BEFORE the superseded files are deleted: a snapshot read that
      // would need them now fails loudly instead of finding the partition
      // silently empty (the VACUUM-bounds-time-travel contract)
      commitSeq(seq, horizonTo = seq)
      old.foreach(p => fs.delete(p, false))
    }
    // every partition is rewritten and its orphans are physically gone,
    // so every live file at or below this compaction's max seq is
    // provably committed — advance the floor and collapse the manifest's
    // explicit set (bounds manifest growth to mutations-per-compaction)
    if (maxSeq > 0L) advanceCommitsFloor(maxSeq)
  }

  /** Enforce the configured retention horizon (reference layer retention,
    * `config.go:198-200`; partition-age deletion `partmgr.go:330,357,390`):
    * drop every partition that ends before `now - retention`. Aligned to
    * partition starts so raw/rollup data is only ever dropped whole —
    * no row rewrite. The names dim does rebuild afterwards (one
    * column-pruned `name` scan of the survivors — a metric living only
    * in expired partitions must leave the names list). */
  def applyRetention(nowMs: Long = System.currentTimeMillis()): Unit = {
    if (config.retentionMs <= 0) return
    val cutoff = nowMs - config.retentionMs
    val cutPart = (cutoff / config.partitionIntervalMs) * config.partitionIntervalMs
    // delegates to the UNLOCKED delete body under its own lease — the
    // public delete() takes the same lock and must not self-deadlock
    if (cutPart > 0) withWriterLock("retention")(deleteImpl(0L, cutPart - 1, Nil, ""))
  }

  /** Delete by time range (+ optional metrics / label filter) — reference
    * S11 (`DeleteParams{Metrics, Filter, From, To}`, `v3iotsdb.go:71-78`,
    * `DeletePartitionsData` :272-477): whole partitions inside the range
    * are dropped metadata-only when no row predicate narrows the delete
    * (raising the time-travel horizon). Boundary (or predicated)
    * partitions: a merge-on-read table lands one tombstone per live
    * matched row of all of them through [[land]] — one seq, one commit,
    * rollup and names rebuilt there — and keeps every older version
    * readable; other tables rewrite each partition without the deleted
    * rows. Rollups of touched partitions rebuild either way.
    * (Delta/Iceberg MERGE would do this transactionally in production —
    * plain parquet rewrite keeps the same semantics single-writer.)
    *
    * @param metrics restrict to these metric names (reference Metrics)
    * @param filter  Spark SQL predicate over `name` / `labels['k']`
    *                (reference Filter, pre-translated by
    *                [[graft.sql.TsdbSql.translateFilter]] on the CLI path)
    */
  def delete(fromMs: Long, toMs: Long, metrics: Seq[String] = Nil,
             filter: String = ""): Unit =
    withWriterLock("delete")(deleteImpl(fromMs, toMs, metrics, filter))

  /** Drop one partition's rollup (and pre-aggregate) dirs — used when a
    * partition's last live rows die: dynamic overwrite cannot clear a
    * partition it writes no rows for, so the stale dirs must go
    * explicitly. */
  private def dropRollupPartitionAt(start: Long): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rollupPath), spark.sparkContext.hadoopConfiguration)
    (rollupPath +: config.preAggregates.map(preAggPath)).foreach { base =>
      val r = new org.apache.hadoop.fs.Path(base, s"part_start=$start")
      if (fs.exists(r)) fs.delete(r, true)
    }
  }

  /** Apply a row-level-operation delta (r15 — SQL UPDATE / MERGE INTO /
    * predicated DELETE, [[graft.sources.GraftTableProvider]]'s
    * SupportsDelta surface): `stagedFiles` are parquet files of
    * `(op, name, labels, time, value, valueStr, labels_str)` records —
    * op 3 = insert/re-append (the sample columns are authoritative;
    * [[land]] derives the identity columns as for [[append]]),
    * op 1 = delete (name/labels_str/time identify the LWW key; the
    * tombstone rebuilds every key-stable column so pushed filters below
    * the MOR merge can never skip it and resurrect what it shadows).
    *
    * Rejects NULL or out-of-range identity columns on inserts, then lands
    * inserts and tombstones through [[land]]: one seq, one atomic
    * manifest commit (readers see all of the mutation or none of it),
    * the inserts' type-safety gate, and the rollup and names rebuild of
    * the touched partitions. MOR tables only — the caller gates, this
    * rechecks. */
  private[graft] def applyDelta(stagedFiles: Seq[String]): Unit =
    withWriterLock("rowLevelDelta") {
      require(config.overrideOld,
        "row-level deltas need a merge-on-read table (overrideOld=true)")
      val delta = spark.read.parquet(stagedFiles: _*).persist()
      try {
        // loud rejection of unwritable inserts (null identity columns —
        // e.g. a MERGE insert action that left name/labels/time
        // unassigned — or out-of-range times): silently dropping an
        // UPDATE's re-append half would turn the update into a delete
        val inserts = delta.filter(col("op") === 3)
        val bad = inserts.filter(col("name").isNull || col("labels").isNull ||
          col("time").isNull ||
          !col("time").between(graft.core.TimeUtil.MinTimeMs,
            graft.core.TimeUtil.MaxTimeMs)).count()
        if (bad > 0)
          throw new IllegalArgumentException(
            s"row-level operation produced $bad row(s) with NULL or " +
              "out-of-range identity columns (name/labels/time are " +
              "required for every inserted or updated row)")
        // tombstones: labels_str IS the stored canonical serialization,
        // so series identity derives from it directly; the parsed labels
        // map is best-effort schema-completeness (post-merge nobody reads
        // a dropped winner's labels)
        val tombstones = delta.filter(col("op") === 1)
          .select(col("name"),
            when(col("labels_str") === "",
              map().cast("map<string,string>"))
              .otherwise(Labels.parse(col("labels_str"))).as("labels"),
            col("time"), col("labels_str"))
        land(Some(inserts), Some(tombstones))
      } finally delta.unpersist()
    }

  private def deleteImpl(fromMs: Long, toMs: Long, metrics: Seq[String],
                         filter: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rawPath), spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(rawPath)
    if (!fs.exists(base)) return
    val parts = fs.listStatus(base).toSeq
      .map(_.getPath).filter(_.getName.startsWith("part_start="))
      .map(p => p -> p.getName.stripPrefix("part_start=").toLong)

    val rowPredicated = metrics.nonEmpty || filter.nonEmpty
    val metricPred = if (metrics.isEmpty) lit(true) else col("name").isin(metrics: _*)
    val filterPred = if (filter.isEmpty) lit(true) else expr(filter)
    // three-valued logic: a row whose labels lack the filtered key makes
    // filterPred NULL, !(… && NULL) is NULL, and filter() would DROP the
    // row — coalesce to false so non-matching rows are kept, not deleted
    val delPred = col("time").between(fromMs, toMs) &&
      coalesce(metricPred, lit(false)) && coalesce(filterPred, lit(false))
    // partition drops and non-MOR rewrites physically destroy older file
    // generations — they must raise the time-travel horizon (MOR
    // tombstones don't: every superseded version stays on disk)
    var rewroteHistory = false
    val tombstoned = scala.collection.mutable.ListBuffer.empty[Long]
    // non-MOR partitions rewritten with surviving rows: their rollup
    // cells change in place
    val rewritten = scala.collection.mutable.ListBuffer.empty[Long]
    parts.foreach { case (dir, start) =>
      val end = start + config.partitionIntervalMs - 1
      val fullyCovered = fromMs <= start && end <= toMs && !rowPredicated
      if (fullyCovered) {
        // atomic disappearance: ONE rename parks the partition (an
        // in-place recursive delete lets a racing listing catch a
        // half-deleted partition), then the parked dot-dir — invisible
        // to Spark listings — is removed. Multi-partition drops are
        // atomic PER PARTITION (one metadata op each); the cross-
        // partition window is rename-sized.
        val parked = new org.apache.hadoop.fs.Path(dir.getParent,
          s".old_${dir.getName}_${System.nanoTime()}")
        fs.rename(dir, parked)
        fs.delete(parked, true)
        rewroteHistory = true
        dropRollupPartitionAt(start) // rollup must not outlive its raw partition
      } else if (start <= toMs && fromMs <= end) {
        if (config.overrideOld) tombstoned += start
        else {
          // non-MOR tables have no version column to tombstone through:
          // physical rewrite + swap. The swap is two metadata-only
          // renames (old dir parked at a dot-name, rewrite renamed in) —
          // a racing reader can still catch the one-rename-wide
          // missing-partition window; delete/retention on non-MOR tables
          // are maintenance operations and documented as such (append
          // and compaction, the steady-state paths, ARE reader-atomic —
          // and so are MOR deletes, below).
          // COMMITTED rows only (review-caught): an unfiltered read
          // would resurrect a crashed mutation's orphan rows into the
          // rewritten file — whose mixed seqs vacuum() would then match
          // on the orphan seq and delete WHOLE, committed survivors
          // included
          // (non-MOR files carry no tombstone column)
          val keep = visibleDir(dir).drop("__del")
            .filter(!delPred)
            .cache()
          val rows = keep.count() // materialize before overwriting the source
          val tmp = new org.apache.hadoop.fs.Path(dir.getParent, s".tmp_${dir.getName}")
          keep.sortWithinPartitions("series_id", "time")
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          keep.unpersist()
          val parked = new org.apache.hadoop.fs.Path(dir.getParent,
            s".old_${dir.getName}_${System.nanoTime()}")
          fs.rename(dir, parked)
          if (rows > 0) { fs.rename(tmp, dir); rewritten += start }
          else { fs.delete(tmp, true); dropRollupPartitionAt(start) }
          fs.delete(parked, true)
          rewroteHistory = true
        }
      }
    }
    // READER-ATOMIC delete (r7), the MOR path: TOMBSTONES for the live
    // matched rows of every overlapping partition instead of a rewrite —
    // a tombstone is the newest LWW version of its (series, time) and the
    // merged read drops it, so the WHOLE delete (across every touched
    // partition) becomes visible at one commit; no dir swap, no
    // missing-partition window (a per-partition commit would expose a
    // torn cross-partition view). Physical space reclaims at the next
    // compaction, whose MOR read drops tombstones and the rows they
    // shadow. Generated from the VISIBLE merged view only: uncommitted
    // garbage must not be resurrected as tombstones, and superseded
    // versions need no tombstone of their own.
    val landed = tombstoned.nonEmpty && land(None,
      Some(merged().filter(col("part_start").isin(tombstoned.toSeq: _*) && delPred)))
    // fence AFTER the destructive work, and COMMIT the fence seq: the
    // drop/rewrite changed table state without writing stamped rows, so
    // the post-delete state needs its own snapshot handle — committing
    // the fresh seq makes currentSeq() == horizon (the current view
    // stays snapshot-readable), while every pre-delete handle falls
    // below the fence and refuses instead of silently losing the
    // dropped partitions (review-caught: a bare horizon advance left
    // even currentSeq() below the fence until the next mutation)
    if (rewroteHistory) {
      val fence = nextSeq()
      commitSeq(fence, horizonTo = fence)
    }
    if (!hasPartitions(rawPath)) {
      // everything deleted: drop the derived tables too — INCLUDING the
      // sidecar and names swap leftovers, or recoverSeriesEnc and
      // mergeNames would resurrect the wiped type pins and names from a
      // stale .tmp/.old on the next append. The leftovers go FIRST: a
      // crash mid-wipe then leaves the live dir (harmless — the wipe
      // re-runs), never a resurrectable orphan .tmp
      Seq(seriesEncPath + ".tmp", seriesEncPath + ".old", namesPath + ".tmp",
          rollupPath, namesPath, seriesEncPath).foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      config.preAggregates.foreach(s =>
        fs.delete(new org.apache.hadoop.fs.Path(preAggPath(s)), true))
    } else if (!landed && rewroteHistory) {
      // a landed tombstone set already rebuilt its partitions' rollups and
      // the names (after the drops above, which took their rollup dirs);
      // a MOR delete that matched no row changed nothing to rebuild
      refreshRollup(rewritten.toSeq)
      refreshNames()
    }
  }
}
