package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.operators.Merge
import graft.util.SegmentStore

/** A concurrent writer's commit or live claim was detected — the merge
  * in flight was built on a base snapshot that no longer is (or soon
  * will not be) the table's newest committed state, and committing it
  * would silently drop the other writer's changes. Retry the whole
  * batch from a fresh snapshot (re-read base, re-merge, re-commit);
  * the claim protocol guarantees at most one of any pair of
  * overlapping writers passes its checks, so a retry loop converges.
  */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** Optimistic-concurrency commit claims for the upsert tables — the
  * put-if-absent protocol lakehouse logs use, adapted to the
  * `_SUCCESS`-gated version-dir layout: before writing version `v`, a
  * writer atomically creates `_claims/v` (content = its writerId;
  * `FileSystem.create(overwrite = false)` is atomic on HDFS-semantics
  * stores). The claim is held across the data write and released after
  * the marker commit. A writer aborts with [[ConcurrentWriteException]]
  * when it finds ANY live foreign claim (a racer is mid-commit on a
  * base that cannot include this write) or when the table's commit
  * token advanced past the base it read (its merge would drop that
  * commit). Claim creation precedes checking, so two overlapping
  * writers can both abort (rare; callers retry), but both PASSING is
  * impossible — passing means seeing zero live foreign claims, and the
  * other's claim was created before its check.
  *
  * Liveness: a claim at or below the current commit token is dead
  * (its commit landed or was superseded) and is ignored + GC'd
  * opportunistically. A crashed writer's claim ABOVE the token blocks
  * conflicting writers until the SAME writerId retries (it reclaims
  * its own claim in place — the streaming-replay path) or an operator
  * releases it ([[outstanding]] / [[release]]).
  */
private[streaming] final class ClaimRegistry(
    fsF: () => org.apache.hadoop.fs.FileSystem,
    claimsDir: Path,
    writerId: String) {
  private def fs = fsF()

  /** Live + dead claims currently on disk: (version, owner). A claim
    * deleted between the directory listing and its owner read was just
    * released by its writer — it is simply no longer outstanding, so it
    * drops out rather than failing the scan.
    */
  def outstanding: Seq[(String, String)] =
    if (!fs.exists(claimsDir)) Seq.empty
    else fs.listStatus(claimsDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.matches("v_\\d{20}"))
      .flatMap(st => owner(st.getPath.getName)
        .map(st.getPath.getName -> _))
      .sortBy(_._1)

  /** Claim owner, or None if the claim file vanished before the read —
    * which only a concurrent release/GC can cause.
    */
  private def owner(version: String): Option[String] = {
    val in =
      try fs.open(new Path(claimsDir, version))
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  def release(version: String): Unit =
    fs.delete(new Path(claimsDir, version), false): Unit

  /** Acquire `version` or throw [[ConcurrentWriteException]].
    * `baseToken` is the table's commit token (newest version /
    * manifest name) AS READ when the merge base was resolved;
    * `tokenNow` re-reads it. Dead claims are GC'd in passing.
    */
  def acquire(version: String, baseToken: Option[String],
      tokenNow: () => Option[String]): Unit = {
    fs.mkdirs(claimsDir)
    val f = new Path(claimsDir, version)
    val created =
      try {
        val out = fs.create(f, false) // atomic create-if-absent
        try out.write(writerId.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!created) {
      // a vanished claim here (created before our attempt, gone before
      // our read) is itself proof of a racing writer's release — the
      // same retryable situation as an owned claim, NOT an I/O fault
      val o = owner(version).getOrElse(
        throw new ConcurrentWriteException(
          s"claim for $version vanished mid-acquire — a concurrent " +
            "writer raced this one; retry from a fresh snapshot"))
      if (o != writerId)
        throw new ConcurrentWriteException(
          s"version $version is claimed by writer '$o' (this writer: " +
            s"'$writerId') — retry from a fresh snapshot")
      // else: our own claim from a crashed attempt — reclaim in place
    }
    val token = tokenNow()
    val (dead, live) = outstanding.partition { case (v, _) =>
      token.exists(v <= _)
    }
    dead.foreach { case (v, _) => release(v) }
    live.find { case (v, o) => v != version && o != writerId } match {
      case Some((v, o)) =>
        release(version)
        throw new ConcurrentWriteException(
          s"live claim $v by writer '$o' overlaps $version — retry from " +
            "a fresh snapshot")
      case None =>
    }
    if (token != baseToken) {
      release(version)
      throw new ConcurrentWriteException(
        s"table advanced from $baseToken to $token while preparing " +
          s"$version — retry from a fresh snapshot")
    }
  }
}

/** Streaming CDC apply — the missing half of [[graft.operators.Merge]]:
  * a stream of change rows applied, one micro-batch at a time, to a
  * keyed parquet table (copy-on-write, like a lakehouse MERGE without
  * the format dependency).
  *
  * Layout: immutable `dir/v_<batchId>` version directories; a version
  * is COMMITTED iff its `_SUCCESS` marker exists (the same gating as
  * Dedup.FingerprintStore), and the table state is the newest
  * committed version. The parquet job committer makes `_SUCCESS` the
  * last file to appear, so there is no separate pointer to repoint and
  * no window where a reader can resolve a half-written table: a crash
  * mid-write leaves a markerless directory that no reader sees and
  * that the replayed batch's overwrite reclaims (exactly-once table
  * state from at-least-once batch delivery — the idempotence contract
  * Structured Streaming's foreachBatch asks of a sink).
  *
  * Scale note: copy-on-write rewrites the full table per batch — right
  * for dimension-sized keyed tables (the reference's mood summary, a
  * training run's doc-status table), wrong for fact-sized ones; at
  * 100 TB, partition the table (Layout.compactByDay) and rewrite only
  * the partitions the batch touches, or use a merge-on-read format.
  */
class ParquetUpsertTable(
    spark: SparkSession,
    dir: String,
    keyCols: Seq[String],
    versionCol: String,
    keepVersions: Int = 2,
    writerId: String = "writer") {
  // >= 2: a concurrent reader that resolved the previous version must
  // still find its files after the next commit's GC (the handoff
  // guarantee in applyBatch's doc); 1 would delete the version a lazy
  // snapshot() frame is still scanning
  require(keepVersions >= 2, "keepVersions must be >= 2")

  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Optimistic concurrency (see [[ClaimRegistry]]): commits claim
    * their version first and abort with [[ConcurrentWriteException]]
    * on a racing writer, instead of silently dropping its changes.
    * Same-writerId retries (the streaming replay path) reclaim a
    * crashed attempt's claim in place.
    */
  private val claims = new ClaimRegistry(() => fs, new Path(root, "_claims"), writerId)

  /** Operator surface for stuck claims (a crashed FOREIGN writer's
    * claim blocks conflicting commits until released). */
  def outstandingClaims: Seq[(String, String)] = claims.outstanding
  def releaseClaim(version: String): Unit = claims.release(version)

  /** Committed version names (dirs whose `_SUCCESS` exists), oldest first. */
  def committedVersions: Seq[String] =
    SegmentStore.segments(spark, root.toString, "v_")
      .map { case (_, v) => new Path(v).getName }

  /** Name of the newest committed version (e.g. "v_00000000000000000003"). */
  def latestVersion: Option[String] = committedVersions.lastOption

  /** The committed table state (live rows only); None before the first
    * commit. Deleted keys persist in storage as tombstone rows (see
    * [[graft.operators.Merge.TombstoneCol]]) so a late lower-versioned
    * change in a future batch cannot resurrect them — this read drops
    * them.
    */
  def snapshot(): Option[DataFrame] =
    snapshotFull().map { df =>
      if (df.columns.contains(Merge.TombstoneCol))
        df.filter(!col(Merge.TombstoneCol)).drop(Merge.TombstoneCol)
      else df // pre-tombstone table layout
    }

  /** The stored frame including tombstone rows — the merge input. */
  private def snapshotFull(): Option[DataFrame] =
    latestVersion.map(v => spark.read.parquet(new Path(root, v).toString))

  /** Time travel: the table as of `batchId` — the newest committed
    * version at or before it (None if nothing that old survives GC).
    * Retention is `keepVersions`, so point lookups into recent history
    * (diffing the batch that corrupted a row, reproducing yesterday's
    * training snapshot) are free reads, not replays.
    */
  def snapshotAt(batchId: Long): Option[DataFrame] = {
    val ceiling = f"v_$batchId%020d"
    committedVersions.filter(_ <= ceiling).lastOption.map { v =>
      val df = spark.read.parquet(new Path(root, v).toString)
      if (df.columns.contains(Merge.TombstoneCol))
        df.filter(!col(Merge.TombstoneCol)).drop(Merge.TombstoneCol)
      else df
    }
  }

  /** Merge one micro-batch of change rows (latest-wins per key, see
    * Merge.upsertLatest) into a NEW version directory; the directory's
    * `_SUCCESS` marker IS the commit. Versions beyond `keepVersions`
    * are removed AFTER the commit, so a concurrent reader holding the
    * previous version still finds its files during the handoff window.
    */
  def applyBatch(batch: DataFrame, batchId: Long): Unit =
    applyChanges(batch,
      batch.limit(0).select((keyCols :+ versionCol).map(col): _*), batchId)

  /** As [[applyBatch]] with tombstones: `deletes` is (keyCols,
    * versionCol) rows removing each key unless a higher-versioned
    * change exists (delete beats data on exact version ties). Deleted
    * keys are stored flagged, not dropped, so sequential batch
    * application stays equal to a single global latest-wins replay of
    * all changes (Merge.applyChanges' contract).
    */
  def applyChanges(updates: DataFrame, deletes: DataFrame, batchId: Long): Unit = {
    val version = f"v_$batchId%020d"
    // versions commit in batch order, so a committed version at or past
    // this id means the batch's changes are already folded into the
    // table — skip (at-least-once replay after a checkpoint/table race)
    if (latestVersion.exists(_ >= version)) return
    val baseToken = latestVersion
    val base = snapshotFull().getOrElse(
      graft.util.Frames.emptyLocal(spark, updates.schema))
    claims.acquire(version, baseToken, () => latestVersion)
    try
      commitVersion(Merge.applyChanges(base, updates, deletes, keyCols,
        versionCol, keepTombstones = true), version)
    finally claims.release(version)
  }

  /** Drop tombstones whose version sorts below `horizon`, as a new
    * committed version. Run periodically with `horizon` trailing the
    * pipeline's maximum change lateness: a tombstone younger than the
    * lateness window must stay (it is what blocks a late lower-
    * versioned update from resurrecting its key — Merge.applyChanges'
    * contract); one older than any change that can still arrive is
    * dead weight, and at 100 TB dead weight is a scan tax on every
    * merge. `batchId` must exceed every data batch's id (replay-skipped
    * like any batch).
    */
  def purgeTombstones(horizon: org.apache.spark.sql.Column, batchId: Long): Unit = {
    val version = f"v_$batchId%020d"
    if (latestVersion.exists(_ >= version)) return
    val baseToken = latestVersion
    snapshotFull().foreach { cur =>
      // pre-tombstone-layout table: nothing to purge, and filtering on
      // the absent column would be an AnalysisException — no-op, like
      // snapshot()'s guard
      if (cur.columns.contains(Merge.TombstoneCol)) {
        claims.acquire(version, baseToken, () => latestVersion)
        try commitVersion(
          cur.filter(!(col(Merge.TombstoneCol) && col(versionCol) < horizon)),
          version)
        finally claims.release(version)
      }
    }
  }

  /** Write `df` as `v_<version>` (the parquet job's `_SUCCESS` IS the
    * commit), then GC versions beyond `keepVersions` — strictly after
    * the commit, so a concurrent reader holding the previous version
    * still finds its files during the handoff window.
    */
  private def commitVersion(df: DataFrame, version: String): Unit = {
    // reads the PREVIOUS version dir while writing the new one — never
    // the same files, so the lazy plan is safe to execute here;
    // overwrite reclaims a partial directory left by a crashed attempt
    df.write.mode("overwrite").parquet(new Path(root, version).toString)
    val stale = committedVersions.dropRight(keepVersions)
      .filter(_ < version) // never GC a replayed-future version
    stale.foreach(v => fs.delete(new Path(root, v), true): Unit)
  }

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(table.sink)`. */
  def sink: (DataFrame, Long) => Unit = (batch, id) => applyBatch(batch, id)
}

/** Partition-scoped copy-on-write upsert — the fact-table variant of
  * [[ParquetUpsertTable]], whose scaladoc names full-table rewrite as
  * wrong beyond dimension size. A batch rewrites ONLY the partitions
  * it touches; every other partition's files are left byte-identical.
  *
  * Layout: `dir/<partCol>=<value>/v_<batchId>/part-*.parquet` — each
  * partition carries its OWN version chain, committed by the parquet
  * job's `_SUCCESS` marker exactly as the flat table's versions are,
  * and GC'd per partition beyond `keepVersions`. A crash mid-batch
  * leaves some partitions committed at `v_B` and the rest on their
  * previous version; the replayed batch skips the committed ones
  * (their merge is deterministic, so the halves agree) and rewrites
  * the rest — exactly-once table state from at-least-once delivery,
  * per partition.
  *
  * CONTRACT: `partCol` must be key-stable — a function of the key
  * (ingest day, id bucket), never of the mutable version column. If a
  * key could change partitions, a scoped rewrite would strand its old
  * row in an untouched partition. Updates carry `partCol` as a normal
  * column; deletes carry (keyCols, versionCol, partCol) — a tombstone
  * must name the one partition its key lives in, or scoping is lost.
  * Partition values must be path-safe (day strings, bucket ids) —
  * ENFORCED: bootstrap and applyChanges reject values outside
  * [A-Za-z0-9._-]+ before committing anything (see requirePathSafe).
  *
  * Scale: work per batch = Σ size of touched partitions — the win over
  * full-table COW, which pays the whole table regardless. Commits run
  * one distributed job per touched partition (a CDC batch touches few
  * — that is the point of partitioning by a key-stable column), one
  * after another; each rewrite lands one key-sorted file, composing
  * with [[graft.operators.Layout.compactByDay]]'s layout discipline
  * instead of spraying shuffle-partition-count small files per version.
  */
class PartitionedUpsertTable(
    spark: SparkSession,
    dir: String,
    keyCols: Seq[String],
    versionCol: String,
    partCol: String,
    keepVersions: Int = 2,
    writerId: String = "writer") {
  require(keepVersions >= 2, "keepVersions must be >= 2")
  require(!keyCols.contains(versionCol) && partCol != versionCol,
    "versionCol must be distinct from keys and partition column")

  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The documented path-safety contract, enforced: partition values
    * become raw directory names (`partCol=<value>`), while bootstrap
    * routes through partitionBy, which HIVE-ESCAPES special characters
    * — a value like "2024/01" or one carrying ':' would bootstrap into
    * an escaped dir but merge into a differently-named raw dir,
    * silently splitting the partition. Restricting values to
    * [A-Za-z0-9._-] (day strings, bucket ids) makes both paths name
    * the same directory; anything else fails fast here.
    */
  private def requirePathSafe(pv: String): Unit =
    require(pv.matches("[A-Za-z0-9._-]+") && pv != "__HIVE_DEFAULT_PARTITION__",
      s"partition value '$pv' is not path-safe: values must be non-null " +
        "and match [A-Za-z0-9._-]+ (day strings, bucket ids) so the raw " +
        "merge path and the hive-escaped bootstrap path name the same dir")

  /** Existing partition dir names, e.g. "day=2024-02-01". */
  def partitionDirs: Seq[String] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName).sorted

  private def committedVersionsIn(partDir: String): Seq[String] =
    SegmentStore.segments(spark, new Path(root, partDir).toString, "v_")
      .map { case (_, v) => new Path(v).getName }

  private def latestIn(partDir: String): Option[String] =
    committedVersionsIn(partDir).lastOption

  // ---- commit manifests ------------------------------------------------ //
  // A batch's LAST step writes `_manifests/m_<version>`: the full
  // partition→version map of the table after the batch (one line per
  // partition, tmp+rename committed). snapshot()/snapshotAt() resolve
  // from the newest manifest in ONE file read instead of one
  // listStatus per partition — at 10k+ partitions that is the
  // difference between 1 and 10k namenode RPCs per read. The listing
  // path below stays as the pre-manifest fallback and the repair path.
  //
  // Crash story: partitions commit individually first; a crash before
  // the manifest leaves the BATCH uncommitted at table level, so
  // readers see the previous manifest's consistent state (its version
  // dirs survive GC — keepVersions >= 2). The streaming contract
  // replays the failed batch id before any later one: the replay skips
  // already-committed partitions, finishes the rest, and lands the
  // manifest. Merge-base resolution (partitionFull) deliberately keeps
  // using the per-partition listing — a replay must see a crashed
  // batch's committed halves to skip them deterministically.

  private val manifestsDir = new Path(root, "_manifests")

  /** Optimistic concurrency at the TABLE level (see [[ClaimRegistry]]):
    * a batch claims its version before rewriting any partition; the
    * commit token is the newest manifest name, so a racer that landed
    * a manifest between this batch's base resolution and its claim is
    * detected before any partition dir is touched. Pre-manifest legacy
    * tables have no token — claims still mutually exclude overlapping
    * writers there, which is the guarantee that matters.
    */
  private val claims = new ClaimRegistry(() => fs, new Path(root, "_claims"), writerId)
  def outstandingClaims: Seq[(String, String)] = claims.outstanding
  def releaseClaim(version: String): Unit = claims.release(version)

  private def manifestNames: Seq[String] =
    if (!fs.exists(manifestsDir)) Seq.empty
    else fs.listStatus(manifestsDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.matches("m_v_\\d{20}"))
      .map(_.getPath.getName).sorted

  /** The one FS read a manifest-resolved snapshot costs. */
  private def readManifest(name: String): Map[String, String] = {
    val in = fs.open(new Path(manifestsDir, name))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(p, v) = line.split("\t")
      p -> v
    }.toMap
  }

  /** Fold the batch's touched partitions over the previous manifest
    * (or, for a legacy/pre-manifest table, over one full listing — the
    * repair path) and commit the result as `m_<version>`. A replay of
    * an OLD batch never regresses the manifest chain (name guard), and
    * manifests are GC'd on the same retention as version dirs.
    */
  private def commitManifest(touched: Seq[String], version: String): Unit = {
    val names = manifestNames
    if (names.lastOption.exists(_ >= s"m_$version")) return // stale replay
    val prev = names.lastOption.map(readManifest).getOrElse {
      partitionDirs.flatMap(p => latestIn(p).map(p -> _)).toMap
    }
    val next = prev ++ touched.map(p => p -> version)
    fs.mkdirs(manifestsDir)
    val tmp = new Path(manifestsDir, s"m_$version.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      next.toSeq.sorted.map { case (p, v) => s"$p\t$v" }.mkString("\n")
        .getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, new Path(manifestsDir, s"m_$version"))
    (names :+ s"m_$version").sorted.dropRight(keepVersions)
      .foreach(n => fs.delete(new Path(manifestsDir, n), false): Unit)
  }

  /** Version dirs of the current table state: ONE manifest read when a
    * manifest chain exists, per-partition listing otherwise.
    */
  private def currentVersionDirs(): Seq[String] =
    manifestNames.lastOption match {
      case Some(m) => readManifest(m).toSeq.sorted
        .map { case (p, v) => new Path(new Path(root, p), v).toString }
      case None => partitionDirs.flatMap(p =>
        latestIn(p).map(v => new Path(new Path(root, p), v).toString))
    }

  /** One partition's committed state (tombstones included); None before
    * the partition's first commit. Bootstrapped versions carry no
    * tombstone column — normalize so snapshot's union is schema-stable.
    */
  private def partitionFull(partDir: String): Option[DataFrame] =
    latestIn(partDir).map { v =>
      val df = spark.read.parquet(new Path(new Path(root, partDir), v).toString)
      if (df.columns.contains(Merge.TombstoneCol)) df
      else df.withColumn(Merge.TombstoneCol, lit(false))
    }

  /** Live rows of the whole table — every partition's newest committed
    * version through ONE multi-path scan relation (a per-partition
    * union would grow the plan linearly with partition count; at 10k
    * day/bucket partitions that's a driver-side plan explosion, a
    * single file-scan relation is flat). mergeSchema covers the mixed
    * layout where bootstrapped partitions carry no tombstone column.
    */
  def snapshot(): Option[DataFrame] = {
    val dirs = currentVersionDirs()
    if (dirs.isEmpty) None
    else {
      val df = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      Some(
        if (df.columns.contains(Merge.TombstoneCol))
          df.filter(!coalesce(col(Merge.TombstoneCol), lit(false)))
            .drop(Merge.TombstoneCol)
        else df)
    }
  }

  /** Time travel across the partitioned layout: each partition's
    * newest committed version at or before `batchId` (partitions a
    * batch never touched contribute their older chain head — exactly
    * the table state after that batch committed), through one
    * multi-path scan. None if no partition has history that old.
    */
  def snapshotAt(batchId: Long): Option[DataFrame] = {
    val ceiling = f"v_$batchId%020d"
    // one manifest read when the chain covers the asked-for id;
    // per-partition version-ceiling listing for pre-manifest history
    val dirs = manifestNames.filter(_ <= s"m_$ceiling").lastOption match {
      case Some(m) => readManifest(m).toSeq.sorted
        .map { case (p, v) => new Path(new Path(root, p), v).toString }
      case None => partitionDirs.flatMap { p =>
        committedVersionsIn(p).filter(_ <= ceiling).lastOption
          .map(v => new Path(new Path(root, p), v).toString)
      }
    }
    if (dirs.isEmpty) None
    else {
      val df = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
      Some(
        if (df.columns.contains(Merge.TombstoneCol))
          df.filter(!coalesce(col(Merge.TombstoneCol), lit(false)))
            .drop(Merge.TombstoneCol)
        else df)
    }
  }

  /** Initial bulk load: ONE distributed partitioned write into a
    * staging dir, then a metadata-only rename of each partition into
    * its `v_<batchId>` slot, marker-committed after the move. N
    * micro-merges would cost a Spark job per partition; the bulk load
    * pays one. Rows load AS GIVEN (no per-key collapse — the caller
    * guarantees one row per key, which an initial snapshot has by
    * construction). Crash anywhere → rerun: committed partitions are
    * skipped, half-moved ones are replaced, the staging dir is
    * reclaimed by the overwrite.
    */
  def bootstrap(df: DataFrame, batchId: Long = 0L): Unit = {
    require(df.columns.contains(partCol),
      s"bootstrap frame must carry the partition column '$partCol'")
    val version = f"v_$batchId%020d"
    val staging = new Path(root, s"_staging_$version")
    // partitionBy strips its column from the data files; write a COPY
    // so each version dir stays self-describing (partitionFull reads
    // the dir directly, not through hive-partition discovery)
    df.withColumn("__p", col(partCol).cast("string"))
      .repartition(col("__p"))
      .sortWithinPartitions(col("__p") +: keyCols.map(col): _*)
      .write.mode("overwrite").partitionBy("__p").parquet(staging.toString)
    fs.listStatus(staging).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__p="))
      .foreach { st =>
        val pv = st.getPath.getName.stripPrefix("__p=")
        // an unsafe source value surfaces here hive-escaped ('%xx') or
        // as the null sentinel — both fail the contract check before
        // any rename, leaving only the reclaimable staging dir
        requirePathSafe(pv)
        val partDir = new Path(root, s"$partCol=$pv")
        val target = new Path(partDir, version)
        if (!fs.exists(new Path(target, "_SUCCESS"))) { // replay skip
          fs.mkdirs(partDir)
          if (fs.exists(target)) fs.delete(target, true) // half-moved remnant
          fs.rename(st.getPath, target)
          fs.createNewFile(new Path(target, "_SUCCESS")): Unit // commit LAST
        }
      }
    fs.delete(staging, true): Unit
    commitManifest(partitionDirs, version)
  }

  /** Merge one batch of updates + tombstones, rewriting ONLY the
    * partitions the batch names. See class doc for the crash/replay
    * story; `applyBatch` is the delete-free convenience.
    */
  def applyChanges(updates: DataFrame, deletes: DataFrame, batchId: Long): Unit = {
    require(updates.columns.contains(partCol) && deletes.columns.contains(partCol),
      s"updates and deletes must carry the partition column '$partCol'")
    val version = f"v_$batchId%020d"
    // a manifest at or past this id means the whole batch already
    // committed — skip (the flat table's replay contract); a crashed
    // batch left NO manifest, so its replay proceeds to the
    // per-partition skips below
    if (manifestNames.lastOption.exists(_ >= s"m_$version")) return
    // commit token in VERSION form ("v_…", manifest prefix stripped) so
    // the claim registry's dead/live comparison is name-compatible
    val baseToken = manifestNames.lastOption.map(_.stripPrefix("m_"))
    var claimed = false
    // the batch feeds one filtered merge per touched partition — cache
    // it so the stream's source isn't recomputed per partition
    val ups = updates.cache()
    val dels = deletes.cache()
    try {
      // touched partitions: tiny by contract (collect is bounded by the
      // batch's distinct partition values, not by data size)
      val touched = ups.select(col(partCol).cast("string"))
        .unionByName(dels.select(col(partCol).cast("string")))
        .distinct().collect()
        .map(r => if (r.isNullAt(0)) "__HIVE_DEFAULT_PARTITION__" else r.getString(0))
        .sorted
      touched.foreach(requirePathSafe) // before ANY partition commits
      // table-level claim before ANY partition dir is touched: a racing
      // writer either aborts here or we do — no interleaved rewrites
      claims.acquire(version, baseToken,
        () => manifestNames.lastOption.map(_.stripPrefix("m_")))
      claimed = true
      def rewrite(pv: String): Unit = {
        val partDir = s"$partCol=$pv"
        // per-partition replay skip: a crash mid-batch commits a prefix
        // of the touched set; the replay must finish the rest
        if (!latestIn(partDir).exists(_ >= version)) {
          val partEq = col(partCol).cast("string") === lit(pv)
          val base = partitionFull(partDir).getOrElse(
            graft.util.Frames.emptyLocal(spark, updates.schema))
          val merged = Merge.applyChanges(base, ups.filter(partEq),
            dels.filter(partEq), keyCols, versionCol, keepTombstones = true)
          val target = new Path(new Path(root, partDir), version)
          // coalesce bounds the output to one file (a raw
          // window merge would spray shuffle.partitions files into a
          // partition-sized dir — the small-file tax Layout.compactByDay
          // exists to undo); the key sort AFTER the coalesce keeps
          // monotone min/max column chunks for row-group pruning
          merged.coalesce(1)
            .sortWithinPartitions(keyCols.map(col): _*)
            .write.mode("overwrite").parquet(target.toString)
          val stale = committedVersionsIn(partDir).dropRight(keepVersions)
            .filter(_ < version)
          stale.foreach(v =>
            fs.delete(new Path(new Path(root, partDir), v), true): Unit)
        }
      }
      touched.foreach(rewrite)
      // table-level commit: every touched partition is in, land the
      // manifest (a replayed batch whose manifest exists is a no-op)
      commitManifest(touched.map(pv => s"$partCol=$pv").toSeq, version)
    } finally {
      // only a claim WE hold: releasing unconditionally would delete a
      // foreign writer's claim file when acquire() threw on conflict
      if (claimed) claims.release(version)
      ups.unpersist()
      dels.unpersist(): Unit
    }
  }

  /** Tombstone-free batch apply (updates only). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit =
    applyChanges(batch,
      batch.limit(0).select((keyCols :+ versionCol :+ partCol).map(col): _*),
      batchId)

  /** Partition-scoped tombstone retention (see
    * [[ParquetUpsertTable.purgeTombstones]] for the horizon contract):
    * rewrites ONLY `partitions` (default: every partition that
    * currently exists) dropping tombstones older than `horizon`. Run
    * it partition-by-partition behind the ingest frontier — old
    * partitions stop receiving changes first, so their tombstones age
    * out first; purging them does not touch hot partitions' files.
    */
  def purgeTombstones(
      horizon: org.apache.spark.sql.Column,
      batchId: Long,
      partitions: Option[Seq[String]] = None): Unit = {
    val version = f"v_$batchId%020d"
    partitions.foreach(_.foreach(requirePathSafe))
    val targets = partitions
      .map(_.map(pv => s"$partCol=$pv"))
      .getOrElse(partitionDirs)
    targets.foreach { partDir =>
      if (!latestIn(partDir).exists(_ >= version)) {
        partitionFull(partDir).foreach { cur =>
          val pruned = cur.filter(
            !(col(Merge.TombstoneCol) && col(versionCol) < horizon))
          pruned.coalesce(1)
            .sortWithinPartitions(keyCols.map(col): _*)
            .write.mode("overwrite")
            .parquet(new Path(new Path(root, partDir), version).toString)
          val stale = committedVersionsIn(partDir).dropRight(keepVersions)
            .filter(_ < version)
          stale.foreach(v =>
            fs.delete(new Path(new Path(root, partDir), v), true): Unit)
        }
      }
    }
    // purge only rewrites partitions that HAD a committed state, so the
    // manifest update is exactly the rewritten set
    commitManifest(targets.filter(p => latestIn(p).contains(version)), version)
  }

  /** foreachBatch adapter. */
  def sink: (DataFrame, Long) => Unit = (batch, id) => applyBatch(batch, id)
}
