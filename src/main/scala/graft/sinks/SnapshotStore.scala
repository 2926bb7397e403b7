package graft.sinks

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Transactional snapshot commits on a plain filesystem — the atomicity
  * the reference gets for free from ClickHouse part-swaps
  * (/root/reference/sql/clickhouse-init.sql:21–23), rebuilt as a
  * minimal manifest-pointer log (no Delta/Iceberg available offline):
  *
  * {{{
  *   <base>/_manifests/m0000000042    manifest: one data-file relative path per line
  *   <base>/data/<partition dirs>/part-*.parquet   immutable data files
  *   <base>/_stage/<uuid>/            transient write staging
  * }}}
  *
  * The LIVE snapshot is the highest-versioned manifest — the same
  * last-log-entry-wins protocol as Delta's transaction log, with no
  * mutable pointer file at all:
  *  - data files and manifests are IMMUTABLE once published — commits
  *    only add files and rename one new manifest into place (a
  *    create-without-overwrite rename: atomic on POSIX/HDFS, and it
  *    FAILS if the version already exists, which surfaces a concurrent
  *    writer instead of silently losing a commit);
  *  - a reader therefore resolves either the previous or the new
  *    manifest — never a missing or half-written table;
  *  - `vacuum` deletes files unreferenced by the newest `keepManifests`
  *    manifests, so an in-flight reader of the previous version stays
  *    valid through the next commit.
  *
  * Single writer assumed ACROSS PROCESSES (a streaming foreachBatch
  * serializes batches; compaction is maintenance run against quiesced
  * or closed partitions) — this is Delta's model minus optimistic
  * concurrency, which one pointer file cannot arbitrate. WITHIN a
  * process, commits to the same base serialize on a per-base JVM
  * lock: the read-current → stage → publish sequence is a
  * read-modify-write, and two interleaved in-process writers would
  * otherwise both extend the SAME parent version — on HDFS the loser's
  * rename fails loudly, but POSIX rename(2) (RawLocalFileSystem)
  * OVERWRITES an existing destination, silently dropping the first
  * commit. The lock closes that hole for the real in-process case
  * (several streaming queries landing in one table from one driver);
  * an exists-check before the rename additionally converts most
  * cross-process races into the loud conflict. At 100 TB the
  * partition-scoped commit is the workhorse: compacting one closed
  * month touches that month's files and a few KB of manifest, never
  * the table.
  *
  * DATA SKIPPING: commits may record per-file min/max statistics for
  * chosen columns as `#stats=` manifest lines (the same idea as Delta's
  * file stats / ClickHouse's sparse index), folded on the driver from
  * the row-group min/max in the staged files' parquet footers and
  * mapped onto `double` as `cast("double")` maps byte, short, int,
  * long, float, double and decimal values. Another type, a row group
  * without usable min/max (a NaN, no stats) or an all-null column
  * records no bound. A range read then prunes whole files from the
  * manifest ALONE — zero data IO for files whose [min,max] misses the
  * query interval. Stats ride the manifest, so they carry forward with
  * their files across appends/compactions and die with them at vacuum.
  * Files without stats (or with a NaN bound from an older manifest)
  * are always read (conservative), so skipping is purely an
  * optimization, never a correctness risk.
  */
object SnapshotStore {

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration
  private def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(conf(spark))

  private def manifestDir(base: String) = new Path(base, "_manifests")
  private def dataDir(base: String) = s"$base/data"

  /** Per-base commit lock (see the class doc's concurrency contract):
    * [[commit]] holds it from manifest resolution through publish, so
    * in-process writers serialize instead of racing the version number.
    * Keyed by the raw base string — callers addressing one table must
    * use one spelling, the same contract the checkpoint/tag paths
    * already assume. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(base: String): Object =
    commitLocks.computeIfAbsent(base, _ => new Object)

  // ---- small file IO ------------------------------------------------------

  private def writeFile(f: FileSystem, p: Path, content: String): Unit = {
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  // ---- manifest resolution ------------------------------------------------

  private def manifestName(v: Long): String = f"m$v%010d"

  private def manifestLines(spark: SparkSession, base: String, v: Long): Seq[String] = {
    val content = readFile(fs(spark, base), new Path(manifestDir(base), manifestName(v)))
    content.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def manifestFiles(spark: SparkSession, base: String, v: Long): Seq[String] =
    manifestLines(spark, base, v).filterNot(_.startsWith("#"))

  /** Newest-first cap on the tag lines carried from one manifest to the
    * next: the idempotence window covers the last MaxTags tagged
    * commits no matter how many compactions or vacuums run in between
    * (a checkpointed streaming sink only ever replays its most recent
    * batch, so 100 is three orders of magnitude of slack). */
  val MaxTags = 100

  /** True if the LIVE manifest carries `#tag=<tag>` — the idempotence
    * probe for [[commitAppend]]'s tag. O(one manifest read): every
    * commit copies the newest MaxTags tag lines forward, so the live
    * manifest alone holds the whole window and old manifests never
    * need scanning. */
  def hasTag(spark: SparkSession, base: String, tag: String): Boolean =
    live(spark, base).hasTag(tag)

  /** Relative data-file paths of the live snapshot (empty if none). */
  def listFiles(spark: SparkSession, base: String): Seq[String] =
    live(spark, base).files

  /** One manifest, read once: its version and its lines. A commit
    * resolves the live one once under the commit lock and derives the
    * tag probe, the carried files, the file stats and the carried tag
    * and stats lines from it. Version -1 stands for "no commit yet". */
  private final case class Live(version: Long, lines: Seq[String]) {
    def files: Seq[String] = lines.filterNot(_.startsWith("#"))
    def hasTag(tag: String): Boolean = lines.contains(s"#tag=$tag")

    /** Recorded per-file stats: rel path → column → (min, max). */
    def stats: Map[String, Map[String, (Double, Double)]] =
      lines.filter(_.startsWith(StatsPrefix)).flatMap { line =>
        line.stripPrefix(StatsPrefix).split("\t", 2) match {
          case Array(rel, spec) =>
            val cols = spec.split(";").iterator.filter(_.nonEmpty).flatMap { p =>
              p.split("=", 2) match {
                case Array(c, mm) => mm.split(",", 2).map(_.toDouble) match {
                  case Array(lo, hi) if !lo.isNaN && !hi.isNaN => Some(c -> (lo, hi))
                  case _ => None
                }
                case _ => None
              }
            }.toMap
            Some(rel -> cols)
          case _ => None
        }
      }.toMap

    /** Files whose recorded [min,max] intersects [lo, hi] for every
      * bound (column, lo, hi); a file without stats for a bound's column
      * is conservatively kept for it. */
    def prune(bounds: (String, Double, Double)*): Seq[String] = {
      val st = stats
      files.filter { f =>
        bounds.forall { case (column, lo, hi) =>
          st.get(f).flatMap(_.get(column)) match {
            case Some((mn, mx)) => mx >= lo && mn <= hi
            case None => true
          }
        }
      }
    }
  }

  private def live(spark: SparkSession, base: String): Live =
    versions(spark, base).lastOption
      .fold(Live(-1L, Nil))(v => Live(v, manifestLines(spark, base, v)))

  /** The data files `rels` as one DataFrame, the data schema taken from
    * the first file's footer and partition columns recovered from the
    * relative paths via basePath; None for no files. */
  private def readFiles(spark: SparkSession, base: String, rels: Seq[String]): Option[DataFrame] =
    rels.headOption.map(rel => spark.read.schema(footerSchema(footer(spark, base, rel)))
      .option("basePath", dataDir(base))
      .parquet(rels.map(f => s"${dataDir(base)}/$f"): _*))

  /** All committed manifest versions, ascending. */
  def versions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    if (!f.exists(manifestDir(base))) Nil
    else f.listStatus(manifestDir(base)).iterator
      .map(_.getPath.getName).filter(_.startsWith("m"))
      .map(_.stripPrefix("m").toLong).toSeq.sorted
  }

  /** Incremental (CDC-style) read of the manifest log: rows in data
    * files that manifest `vTo` lists but `vFrom` does not — for an
    * append-only writer this is exactly the rows committed in
    * (vFrom, vTo]. Compaction rewrites files, so a file-level diff
    * across a compaction over-reports; consumers needing exactness
    * across compactions read through the LWW/FINAL path instead.
    * Scale posture: the diff is
    * a manifest-list set difference (driver-side metadata, two small
    * file reads) — no data is scanned beyond the changed files. Pass
    * vFrom < 0 for "everything up to vTo" (version numbers start at 0). */
  def changesBetween(spark: SparkSession, base: String,
      vFrom: Long, vTo: Long): Option[DataFrame] = {
    val from: Set[String] =
      if (vFrom < 0) Set.empty
      else manifestFiles(spark, base, vFrom).toSet
    readFiles(spark, base, manifestFiles(spark, base, vTo).filterNot(from))
  }

  /** Time travel: the snapshot as of manifest version `v` (None if that
    * manifest is empty). Manifests are immutable and survive until
    * [[vacuum]] drops them, so any retained version reads with full
    * snapshot isolation — the batch analog of reprocessing from an old
    * offset. Throws FileNotFoundException for a vacuumed/unknown version. */
  def readVersion(spark: SparkSession, base: String, v: Long): Option[DataFrame] =
    readFiles(spark, base, manifestFiles(spark, base, v))

  /** The live snapshot as a DataFrame (partition columns recovered from
    * the relative paths via basePath), or None when no commit exists or
    * the live manifest is empty. */
  def read(spark: SparkSession, base: String): Option[DataFrame] =
    readFiles(spark, base, listFiles(spark, base))

  // ---- commits ------------------------------------------------------------

  /** Commits whose input's ESTIMATED size reaches [[rebalanceMinBytes]]
    * get an AQE size-targeted REBALANCE before the write (r16, guide §6
    * "small files hurt twice … coalesce on write / REBALANCE hint"):
    * a staged write otherwise inherits the upstream partitioning, so a
    * 100 TB landing arriving from a many-thousand-task shuffle tail
    * would emit a file per task per partition-dir — a tiny-file storm
    * the store then pays for on every read (listing + per-file open)
    * until compaction. The rebalance targets
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` per output file
    * and additionally splits skewed partitions. Partitioned writes
    * rebalance BY the partition columns so each output directory gets
    * few large files instead of one per upstream task.
    *
    * Gated on the Catalyst size estimate so small commits skip the
    * extra exchange; the threshold is four advisory-sized output files
    * (256 MB at Spark's 64 MB default), so it follows the one conf that
    * sizes the rebalance's own output. A plan whose input is one RDD
    * partition (a foreachBatch micro-batch) never rebalances, whatever
    * its estimate: one input partition cannot make a tiny-file storm (a
    * shuffle after it is coalesced by AQE, as the rebalance would be),
    * and its estimate is Spark's unknown size scaled by whatever
    * projections sit above it, so no byte threshold reads it
    * correctly. */
  def rebalanceMinBytes(spark: SparkSession): Long =
    4L * spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** True when `plan` reads one RDD partition and otherwise only
    * driver-local rows: a foreachBatch micro-batch (enriched from a
    * driver-held hash table) or a `createDataFrame(RDD, schema)` frame. */
  private def oneRddPartition(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.forall(l => l.isInstanceOf[LogicalRDD] || l.isInstanceOf[LocalRelation]) &&
      leaves.collect { case r: LogicalRDD => r.rdd.getNumPartitions }.sum == 1
  }

  /** Write `df` to staging, move its parquet files under data/
    * (preserving partition subdirs), return their relative paths. The
    * files are invisible to readers until a manifest references them. */
  private def stageWrite(spark: SparkSession, base: String, df: DataFrame,
      partitionBy: Seq[String]): Seq[String] = {
    val f = fs(spark, base)
    val stage = s"$base/_stage/${UUID.randomUUID()}"
    val plan = df.queryExecution.optimizedPlan
    val toWrite =
      if (plan.stats.sizeInBytes >= BigInt(rebalanceMinBytes(spark)) && !oneRddPartition(plan))
        df.hint("rebalance", partitionBy: _*)
      else df
    val w = toWrite.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(stage)
    val stagePath = new Path(stage)
    val stageUri = f.makeQualified(stagePath).toUri
    val it = f.listFiles(stagePath, true)
    val rels = Seq.newBuilder[String]
    while (it.hasNext) {
      val status = it.next()
      val p = status.getPath
      if (p.getName.endsWith(".parquet")) {
        val rel = stageUri.relativize(f.makeQualified(p).toUri).getPath
        val dest = new Path(s"${dataDir(base)}/$rel")
        f.mkdirs(dest.getParent)
        if (!f.rename(p, dest))
          throw new java.io.IOException(s"failed to move staged file $p to $dest")
        rels += rel
      }
    }
    f.delete(stagePath, true)
    rels.result()
  }

  /** Publish `files` as the version after `parent` (the live manifest
    * the caller resolved under the commit lock): write the manifest to a
    * temp name, then rename it into place. The rename is atomic and
    * fails on an existing destination — a lost race to the version
    * number aborts loudly rather than dropping a commit. Returns the
    * published version. */
  private def commitManifest(spark: SparkSession, base: String, parent: Live,
      files: Seq[String], tag: Option[String], newStats: Seq[String]): Long = {
    val f = fs(spark, base)
    val next = parent.version + 1
    val name = manifestName(next)
    f.mkdirs(manifestDir(base))
    val tmp = new Path(manifestDir(base), s".tmp-${UUID.randomUUID()}")
    // tags travel INSIDE the manifest ('#'-comment lines), so tag
    // visibility and file visibility share the one atomic rename — and
    // EVERY commit (append, replace, compaction) carries the newest
    // MaxTags tags forward, so the idempotence window survives
    // compaction and vacuum instead of dying with its own manifest
    val carried = parent.lines.filter(_.startsWith("#tag="))
    val tags = (carried ++ tag.map(t => s"#tag=$t")).takeRight(MaxTags)
    // stats lines travel with their file: carried while the file stays
    // in the manifest, dropped the moment the file is (files going away
    // at compaction must not leave ghost stats behind)
    val live = files.toSet
    val carriedStats = parent.lines
      .filter(_.startsWith(StatsPrefix))
      .filter(l => statsLineFile(l).exists(live))
    writeFile(f, tmp, (tags ++ carriedStats ++ newStats ++ files).mkString("\n"))
    val dst = new Path(manifestDir(base), name)
    // HDFS rename fails on an existing destination; POSIX rename(2)
    // (RawLocalFileSystem) OVERWRITES it — so probe explicitly first.
    // In-process racers never reach here concurrently (commitLock);
    // this check turns a cross-process race into the loud conflict on
    // local filesystems too (modulo the unavoidable check-then-rename
    // window — the documented cross-process contract stays single-writer)
    if (f.exists(dst) || !f.rename(tmp, dst))
      throw new java.io.IOException(
        s"snapshot commit conflict: version $name already exists under $base")
    next
  }

  /** What one commit publishes, chosen from the live manifest: the
    * files it keeps by reference, the frame it stages (if any) and the
    * stats lines it revives for kept files. */
  private final case class Plan(keep: Seq[String], df: Option[DataFrame],
      revivedStats: Seq[String] = Nil)

  /** A published commit: its version and the rows it staged. */
  private final case class Published(version: Long, rows: Long)

  /** The one commit path: every manifest publish goes through here.
    * Under the per-base commit lock it resolves the live manifest once;
    * a `tag` already in it makes the commit a no-op, so a replayed
    * tagged batch lands once. Otherwise `plan` chooses, from that one
    * [[Live]], what to keep and what to stage (None: nothing to
    * commit). The frame is staged under `partitionBy`, each staged
    * file's footer is read once for its rows and its stats for
    * `statsCols` ([[footerFold]]), and the manifest is published as the
    * next version. With `dropEmpty` a frame that stages zero rows
    * publishes nothing and its files are removed. Returns the published
    * commit, or None when nothing was published. */
  private def commit(spark: SparkSession, base: String, tag: Option[String] = None,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      dropEmpty: Boolean = false)(plan: Live => Option[Plan]): Option[Published] =
    commitLock(base).synchronized {
      val parent = live(spark, base)
      if (tag.exists(parent.hasTag)) None
      else plan(parent).flatMap { p =>
        val staged = p.df.fold(Seq.empty[String])(stageWrite(spark, base, _, partitionBy))
        val (rows, stats) = footerFold(spark, base, staged, statsCols)
        if (dropEmpty && rows == 0L) {
          val f = fs(spark, base)
          staged.foreach(rel => f.delete(new Path(s"${dataDir(base)}/$rel"), false))
          None
        } else Some(Published(commitManifest(spark, base, parent, p.keep ++ staged, tag,
          p.revivedStats ++ stats), rows))
      }
    }

  /** Replace the whole table with `df` (dim-snapshot swap, full
    * compaction). `statsCols` opts the commit into per-file min/max
    * recording for those columns. Returns the committed manifest
    * version. */
  def commitReplace(spark: SparkSession, base: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Long =
    commit(spark, base, partitionBy = partitionBy, statsCols = statsCols)(
      _ => Some(Plan(Nil, Some(df)))).get.version

  /** Append `df` to the table. Atomic for readers too: the batch's
    * files appear all-at-once at manifest publish, never half-written.
    * With a `tag` (e.g. a streaming batch id), the commit becomes
    * IDEMPOTENT: a replay of an already-committed tag is a no-op —
    * exactly-once landing on top of an at-least-once sink. */
  def commitAppend(spark: SparkSession, base: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, tag: Option[String] = None,
      statsCols: Seq[String] = Nil): Unit =
    commit(spark, base, tag, partitionBy, statsCols)(l => Some(Plan(l.files, Some(df))))

  /** [[commitAppend]] that also returns the number of rows landed,
    * counted from the staged files' footers (no extra job, no caching
    * of the input frame). A zero-row batch commits NOTHING (its empty
    * files are removed; no manifest version is burned) and returns 0 —
    * the same observable behavior as the old
    * `if (count > 0) commitAppend` caller pattern. An
    * already-present idempotence tag is a no-op returning 0. */
  def commitAppendCounted(spark: SparkSession, base: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, tag: Option[String] = None,
      statsCols: Seq[String] = Nil): Long =
    commit(spark, base, tag, partitionBy, statsCols, dropEmpty = true)(
      l => Some(Plan(l.files, Some(df)))).fold(0L)(_.rows)

  /** [[commitReplace]] returning the rows committed, counted from the
    * staged footers (the replace ALWAYS commits — replacing a table
    * with an empty snapshot is a legitimate state). */
  def commitReplaceCounted(spark: SparkSession, base: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, statsCols: Seq[String] = Nil): Long =
    commit(spark, base, partitionBy = partitionBy, statsCols = statsCols)(
      _ => Some(Plan(Nil, Some(df)))).fold(0L)(_.rows)

  /** Replace exactly one partition's files with `df` (which must be the
    * new content of that partition, carrying the partition column):
    * the partition-scoped compaction path — closed partitions commit
    * without touching the rest of the table. */
  def commitReplacePartition(spark: SparkSession, base: String, df: DataFrame,
      partitionCol: String, partitionValue: String,
      statsCols: Seq[String] = Nil): Unit =
    commit(spark, base, partitionBy = Seq(partitionCol), statsCols = statsCols) { l =>
      Some(Plan(l.files.filterNot(_.startsWith(s"$partitionCol=$partitionValue/")), Some(df)))
    }

  // ---- per-file column statistics (data skipping) -------------------------

  private val StatsPrefix = "#stats="

  private def statsLineFile(line: String): Option[String] =
    line.stripPrefix(StatsPrefix).split("\t", 2).headOption

  // ---- parquet footers ----------------------------------------------------

  private def footer(spark: SparkSession, base: String, rel: String): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(s"${dataDir(base)}/$rel"), conf(spark)))
    try r.getFooter finally r.close()
  }

  /** The Spark schema of a data file: every one is written through
    * Spark ([[stageWrite]]), which stores it in the footer. */
  private def footerSchema(m: ParquetMetadata): StructType = DataType.fromJson(
    m.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    .asInstanceOf[StructType]

  /** Rows of the staged files and their `#stats=` lines for
    * `statsCols`, from one footer read per file: manifest-scale
    * driver-side metadata, never a Spark job. A column's bound is its
    * row-group min/max ([[footerBounds]]) widened one ulp each way, so
    * the double encoding can never round a true boundary out of its own
    * file (longs past 2^53). Files with no rows get no line. */
  private def footerFold(spark: SparkSession, base: String, rels: Seq[String],
      statsCols: Seq[String]): (Long, Seq[String]) = {
    val footers = rels.map(rel => rel -> footer(spark, base, rel))
    def rows(m: ParquetMetadata) = m.getBlocks.asScala.map(_.getRowCount).sum
    val lines = if (statsCols.isEmpty) Nil else footers.collect {
      case (rel, m) if rows(m) > 0 =>
        val schema = footerSchema(m)
        val parts = statsCols.flatMap(c => footerBounds(m, schema, c).map { case (lo, hi) =>
          s"$c=${Math.nextDown(lo)},${Math.nextUp(hi)}"
        })
        s"$StatsPrefix$rel\t${parts.mkString(";")}"
    }
    (footers.map(f => rows(f._2)).sum, lines)
  }

  /** Column `c`'s [min, max] over the file's row groups, each value
    * mapped as `cast("double")` maps it; None for an unmapped type, a
    * row group with values but no usable min/max, or no non-null value. */
  private def footerBounds(m: ParquetMetadata, schema: StructType,
      c: String): Option[(Double, Double)] = {
    val toDouble: Option[Any => Double] = schema.find(_.name == c).map(_.dataType).collect {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType =>
        v => v.asInstanceOf[Number].doubleValue
      case d: DecimalType => v => new java.math.BigDecimal(v match {
        case b: Binary => new java.math.BigInteger(b.getBytes)
        case n => java.math.BigInteger.valueOf(n.asInstanceOf[Number].longValue)
      }, d.scale).doubleValue
    }
    val path = ColumnPath.get(c)
    toDouble.flatMap { cast =>
      // per row group: None = no usable min/max, Some(None) = all null
      val groups = m.getBlocks.asScala.toSeq.map(_.getColumns.asScala.find(_.getPath == path)
        .flatMap { ch =>
          val s = ch.getStatistics
          if (s != null && s.hasNonNullValue) {
            val (lo, hi) = (cast(s.genericGetMin), cast(s.genericGetMax))
            if (lo.isNaN || hi.isNaN) None else Some(Some((lo, hi)))
          } else if (s != null && s.isNumNullsSet && s.getNumNulls == ch.getValueCount) Some(None)
          else None
        })
      if (groups.contains(None)) None
      else groups.flatten.flatten.reduceOption((x, y) => (x._1 min y._1, x._2 max y._2))
    }
  }

  /** Recorded per-file stats of the live snapshot:
    * rel path → column → (min, max). Files or columns without recorded
    * stats are simply absent. */
  def fileStats(spark: SparkSession, base: String): Map[String, Map[String, (Double, Double)]] =
    live(spark, base).stats

  /** Live-snapshot files whose recorded [min,max] for `column`
    * intersects [lo, hi]; files without stats for the column are
    * conservatively kept. Pure manifest metadata — no data IO. */
  def pruneFiles(spark: SparkSession, base: String, column: String,
      lo: Double, hi: Double): Seq[String] =
    live(spark, base).prune((column, lo, hi))

  /** Range read with file skipping: only files surviving [[pruneFiles]]
    * are opened (parquet row-group pushdown then prunes further inside
    * them), and the row-level filter is applied on top so the result is
    * EXACTLY the full-scan filter's. None when every file was skipped. */
  def readRange(spark: SparkSession, base: String, column: String,
      lo: Double, hi: Double): Option[DataFrame] =
    readBox(spark, base, Seq((column, lo, hi)))

  /** [[readRange]] over several columns at once: one resolve of the live
    * manifest, the files whose stats intersect EVERY bound, and the
    * row-level conjunction on top. */
  private[sinks] def readBox(spark: SparkSession, base: String,
      bounds: Seq[(String, Double, Double)]): Option[DataFrame] =
    readFiles(spark, base, live(spark, base).prune(bounds: _*))
      .map(_.filter(bounds.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }.reduce(_ && _)))

  /** The shared body of the STATS-PRUNED PARTIAL REWRITES: `affected`
    * picks, from the live manifest, the files that can hold a matching
    * row; those files are read, rewritten by `f` and replaced, and every
    * other file carries over into the new manifest BY REFERENCE,
    * untouched. The rewrite re-records stats for `statsCols` on the
    * replacement files. Returns the number of files rewritten (0 =
    * metadata-only no-op: no new manifest is committed). Atomic:
    * readers see the snapshot before or after, never a mix. */
  private def rewrite(spark: SparkSession, base: String, statsCols: Seq[String])(
      affected: Live => Seq[String])(f: DataFrame => DataFrame): Int = {
    var rewritten = 0
    commit(spark, base, statsCols = statsCols) { l =>
      val hit = affected(l)
      rewritten = hit.size
      readFiles(spark, base, hit).map(scan => Plan(l.files.filterNot(hit.toSet), Some(f(scan))))
    }
    rewritten
  }

  /** Targeted delete (right-to-be-forgotten / retention purge) with a
    * STATS-PRUNED PARTIAL REWRITE: only files whose recorded [min,max]
    * for `column` can intersect [lo, hi] are rewritten (minus the rows
    * where `column` is in range and `extra` holds); every other file
    * carries over into the new manifest BY REFERENCE, untouched. At
    * 100 TB, purging one user's rows from a user-clustered (sorted or
    * z-ordered) table rewrites the handful of files that can contain
    * them — IO proportional to the delete's footprint, not the table.
    * Files without recorded stats are conservatively rewritten.
    *
    * Returns the number of files rewritten (0 = metadata-only no-op:
    * no new manifest is committed). The rewrite re-records stats for
    * `statsCols` on the replacement files (pass the same columns the
    * table was committed with, or pruning degrades to conservative
    * keeps for them). Atomic: readers see the pre- or post-delete
    * snapshot, never a mix. */
  def deleteRange(spark: SparkSession, base: String, column: String,
      lo: Double, hi: Double, statsCols: Seq[String] = Nil,
      extra: Option[Column] = None): Int =
    rewrite(spark, base, statsCols)(_.prune((column, lo, hi))) { scan =>
      val deletePred = col(column) >= lo && col(column) <= hi &&
        extra.getOrElse(lit(true))
      // three-valued logic: a NULL predicate (null column value) must
      // mean KEEP, not drop — filter(!p) alone would drop null rows
      scan.filter(not(coalesce(deletePred, lit(false))))
    }

  /** ClickHouse table-TTL analog with rollup aging — `TTL ts +
    * INTERVAL … GROUP BY k SET v = sum(v)` (MergeTree's "age raw rows
    * into aggregate rows" lifecycle, the 100 TB retention idiom that
    * keeps dashboards serving YEARS of history at day granularity
    * while raw rows only live for days).
    *
    * Rows with `column` < `cutoff` (strict; NULL axis = keep, the
    * [[deleteRange]] three-valued rule) are removed and replaced by
    * `rollup(expiredRows)` — which MUST return the table's own schema
    * (names + types, checked) so rolled rows coexist with raw ones.
    *
    * Stats-pruned partial rewrite, same as [[deleteRange]]: only
    * files whose recorded [min,max] can contain an expired row are
    * read; the rest carry over by reference. Survivors and rollup
    * rows commit in ONE manifest — readers see pre- or post-TTL,
    * never a mix.
    *
    * Re-aggregation contract (part-merge semantics): a later TTL pass
    * re-reads previously-rolled rows whose axis value is still below
    * the (new) cutoff and aggregates them WITH newly-expired raws —
    * so `rollup` must be re-applicable (sum of sums, min of mins:
    * emit re-aggregable columns and a group-stable axis value, e.g.
    * the bucket start). That is exactly how ClickHouse TTL GROUP BY
    * behaves across merges.
    *
    * Returns files rewritten (0 = nothing can be expired:
    * metadata-only no-op). */
  def ttlExpire(spark: SparkSession, base: String, column: String,
      cutoff: Double, rollup: DataFrame => DataFrame,
      statsCols: Seq[String] = Nil): Int =
    rewrite(spark, base, statsCols)(_.prune((column, Double.NegativeInfinity, cutoff))) { scan =>
      val expiredPred = coalesce(col(column) < cutoff, lit(false))
      val survivors = scan.filter(not(expiredPred))
      val rolled = rollup(scan.filter(expiredPred))
      val want = scan.schema.map(f => (f.name, f.dataType))
      val got = rolled.schema.map(f => (f.name, f.dataType))
      require(got == want,
        s"TTL rollup must preserve the table schema; expected $want, got $got")
      survivors.unionByName(rolled)
    }

  /** `ALTER TABLE … UPDATE` mutation analog (completing the
    * delete/MERGE/update triad ClickHouse mutations offer): set
    * columns on rows matching `column ∈ [lo, hi]` (AND the optional
    * `extra` predicate) with the same stats-pruned PARTIAL REWRITE as
    * [[deleteRange]] — only files whose recorded [min,max] can contain
    * a matching row are rewritten; the rest carry over by reference.
    *
    * SQL UPDATE semantics: every SET expression is evaluated against
    * the OLD row (one select — `set("a") = col("b"), set("b") =
    * col("a")` swaps), a NULL predicate means keep-unchanged
    * (three-valued logic, the [[deleteRange]] rule), and each SET
    * value is cast back to the column's existing type so the table
    * schema can never drift through a mutation. SET columns must
    * exist. Returns files rewritten (0 = no file can match:
    * metadata-only no-op, no new manifest). Atomic: readers see the
    * pre- or post-update snapshot, never a mix. */
  def updateRange(spark: SparkSession, base: String, column: String,
      lo: Double, hi: Double, set: Map[String, Column],
      statsCols: Seq[String] = Nil, extra: Option[Column] = None): Int = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    rewrite(spark, base, statsCols)(_.prune((column, lo, hi))) { src =>
      val pred = coalesce(col(column) >= lo && col(column) <= hi &&
        extra.getOrElse(lit(true)), lit(false))
      val types = src.schema.map(f => f.name -> f.dataType).toMap
      val missing = set.keySet -- types.keySet
      require(missing.isEmpty, s"SET columns not in table: $missing")
      src.withColumn("__hit", pred)
        .select(src.columns.toSeq.map { c =>
          (set.get(c) match {
            case Some(v) =>
              when(col("__hit"), v.cast(types(c))).otherwise(col(c))
            case None => col(c)
          }).as(c)
        }: _*)
    }
  }

  /** Keyed MERGE (CDC apply: upsert + delete in one batch) with the
    * same stats-pruned PARTIAL REWRITE as [[deleteRange]] — the scale
    * path for maintaining a big keyed table (a dimension, an LWW event
    * log) under a change stream: only files whose recorded [min,max]
    * for `keyCol` can contain an affected key are rewritten; the rest
    * carry over by reference.
    *
    * `changes` carries the table's data schema plus a delete verdict
    * (`isDelete` evaluated against it), AT MOST ONE ROW PER KEY
    * (pre-collapse a CDC batch with LWW — [[graft.ops.Dedup.lww]] —
    * upstream). Semantics per change key: existing rows with that key
    * are removed, and unless the change is a delete, the change row is
    * inserted. Rows of untouched keys inside rewritten files survive.
    *
    * The affected-file set is computed DISTRIBUTED: the manifest's
    * per-file ranges (manifest-scale) broadcast against the change
    * keys, and only distinct file names — bounded by the file count,
    * never the batch — reach the driver. Files without recorded key
    * stats are conservatively rewritten. Returns files rewritten; 0 =
    * no change row touches any file AND the batch has no inserts
    * (nothing to commit). Unlike the range rewrites, a batch that
    * touches no file still commits its inserts, so it plans through
    * [[commit]] directly rather than [[rewrite]]. */
  def mergeKeyed(spark: SparkSession, base: String, changes: DataFrame,
      keyCol: String, isDelete: Column,
      statsCols: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.broadcast
    var rewritten = 0
    commit(spark, base, statsCols = statsCols) { l =>
      val st = l.stats
      val (ranged, statless) = l.files.partition(f => st.get(f).exists(_.contains(keyCol)))
      val rangeRows = ranged.map { f =>
        val (lo, hi) = st(f)(keyCol); (f, lo, hi)
      }
      val keyD = col(keyCol).cast("double")
      val affectedRanged: Seq[String] =
        if (rangeRows.isEmpty) Nil
        else {
          val ranges = spark.createDataFrame(rangeRows).toDF("__file", "__lo", "__hi")
          changes.select(keyD.as("__k"))
            .join(broadcast(ranges), col("__k") >= col("__lo") && col("__k") <= col("__hi"))
            .select("__file").distinct().collect().map(_.getString(0)).toSeq
        }
      val affected = (statless ++ affectedRanged).distinct
      rewritten = affected.size
      // table schema governs: extra change-side columns (CDC markers)
      // never reach storage
      val tableCols = l.files.headOption.fold(changes.columns.toSeq) { rel =>
        footerSchema(footer(spark, base, rel)).fieldNames.toSeq ++
          rel.split("/").init.map(_.takeWhile(_ != '='))
      }
      val upserts = changes.filter(not(coalesce(isDelete, lit(false))))
        .select(tableCols.map(col): _*)
      if (affected.isEmpty && upserts.isEmpty) None
      else Some(Plan(l.files.filterNot(affected.toSet), Some(
        readFiles(spark, base, affected).fold(upserts)(
          _.join(changes.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
            .unionByName(upserts)))))
    }
    rewritten
  }

  /** RESTORE analog (rollback/roll-forward time travel as a COMMIT):
    * publish a new manifest that re-references the data files of
    * retained version `v` — metadata-only, no data read or written, so
    * restoring a 100 TB table costs two manifest file operations. The
    * restored files' stats lines carry over from the old manifest
    * (deduplicated against files still live), so pruning keeps
    * working; the current idempotence-tag window carries forward as
    * with every commit. Readers see the pre- or post-restore snapshot
    * atomically. Throws FileNotFoundException when `v` was vacuumed. */
  def restore(spark: SparkSession, base: String, v: Long): Unit =
    commit(spark, base) { l =>
      val old = Live(v, manifestLines(spark, base, v))
      val fileSet = old.files.toSet
      val cur = l.files.toSet
      val revived = old.lines
        .filter(_.startsWith(StatsPrefix))
        .filter(line => statsLineFile(line).exists(f => fileSet(f) && !cur(f)))
      Some(Plan(old.files, None, revived))
    }

  // ---- retention ----------------------------------------------------------

  /** Drop manifests older than the newest `keepManifests` and delete
    * data files no surviving manifest references. keepManifests >= 2
    * keeps the previous snapshot alive for in-flight readers. */
  def vacuum(spark: SparkSession, base: String, keepManifests: Int = 2): Unit = {
    val manifests = versions(spark, base)
    if (manifests.length <= keepManifests) return
    val f = fs(spark, base)
    val (drop, keep) = manifests.splitAt(manifests.length - keepManifests)
    val referenced = keep.flatMap(manifestFiles(spark, base, _)).toSet
    val dataPath = new Path(dataDir(base))
    if (f.exists(dataPath)) {
      val dataUri = f.makeQualified(dataPath).toUri
      val it = f.listFiles(dataPath, true)
      while (it.hasNext) {
        val p = it.next().getPath
        val rel = dataUri.relativize(f.makeQualified(p).toUri).getPath
        if (p.getName.endsWith(".parquet") && !referenced.contains(rel))
          f.delete(p, false)
      }
    }
    drop.foreach(v => f.delete(new Path(manifestDir(base), manifestName(v)), false))
  }

  // ---- incremental consumption --------------------------------------------

  /** Exactly-once incremental processing of the manifest log — the
    * streaming-consumption twin of [[changesBetween]]. Reads the last
    * processed version from `checkpointFile`, hands every later
    * commit's rows to `f` as ONE batch tagged with the new high
    * version, then advances the checkpoint by atomic tmp-write+rename.
    * Returns Some(processed version) or None when already up to date.
    *
    * Delivery contract (mirrors Structured Streaming's): a crash after
    * `f` but before the checkpoint rename replays the batch —
    * at-least-once into `f` — so an `f` that lands through
    * [[commitAppend]] with the batch version as the idempotence tag is
    * exactly-once end-to-end. Driver-side work is two small file reads
    * and a rename; data reads touch only the files new manifests added. */
  def processNew(spark: SparkSession, base: String, checkpointFile: String)(
      f: (DataFrame, Long) => Unit): Option[Long] = {
    val hfs = fs(spark, base)
    val ckPath = new Path(checkpointFile)
    val last: Long =
      if (hfs.exists(ckPath)) readFile(hfs, ckPath).trim.toLong else -1L
    val current = versions(spark, base).lastOption.getOrElse(-1L)
    if (current <= last) return None
    changesBetween(spark, base, last, current).foreach(df => f(df, current))
    val tmp = new Path(ckPath.getParent, s".tmp-ck-${UUID.randomUUID()}")
    hfs.mkdirs(ckPath.getParent)
    writeFile(hfs, tmp, current.toString)
    if (!hfs.rename(tmp, ckPath)) {
      hfs.delete(ckPath, false)
      if (!hfs.rename(tmp, ckPath))
        throw new java.io.IOException(s"cannot advance checkpoint $ckPath")
    }
    Some(current)
  }

  /** Remove crashed-write leftovers: `_stage` dirs and `.tmp-*`
    * manifest files (a completed commit always deletes its stage and
    * renames its tmp). REQUIRES a fully quiesced table — unlike
    * [[vacuum]], this must NOT run alongside a writer, whose in-flight
    * staging dir is indistinguishable from an orphan. */
  def cleanOrphans(spark: SparkSession, base: String): Unit = {
    val f = fs(spark, base)
    val stageRoot = new Path(base, "_stage")
    if (f.exists(stageRoot)) f.delete(stageRoot, true)
    if (f.exists(manifestDir(base)))
      f.listStatus(manifestDir(base)).iterator
        .filter(_.getPath.getName.startsWith(".tmp-"))
        .foreach(s => f.delete(s.getPath, false))
  }
}
