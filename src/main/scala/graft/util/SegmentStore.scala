package graft.util

import java.util.concurrent.{CompletableFuture, CompletionException}

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.StructType

/** The store family's one on-disk protocol: immutable batch-id-keyed
  * segments plus folded generations — the epoch-keyed, idempotent-sink
  * design of Structured Streaming (SIGMOD 2018). Every persisted store
  * (the sum meters, FingerprintStore, EvalGramStore, ClusterStore,
  * DriftStream, the IVF index, the BM25 postings) goes through here.
  *
  * Layout of a store directory:
  *  - `<prefix><id>` segment dirs (`%05d`, widening past 99999), one
  *    per ingested batch. A segment counts once parquet's `_SUCCESS`
  *    exists; a crash mid-write leaves a dir that is never read and is
  *    overwritten by the next write claiming that id.
  *  - `gen_<n>` marker files. The newest names the current generation,
  *    a fold of older segments. Its content is tab-separated, in one of
  *    three shapes: `sub below` (sum meters), `table sub buckets`
  *    (fingerprints), `table sub buckets below` (cluster map). `sub` is
  *    the generation's data dir `gen_data_<n>`, `table` a bucketed
  *    catalog handle over it, `below` the `foldedBelow` bound: the
  *    generation covers every segment with a smaller id, and readers
  *    skip those segments. A generation without a bound covers every
  *    segment it folded, which the store then deletes; its next
  *    compaction re-folds any segment a crash left behind.
  *  - `gen_<n>.tmp`: a marker being committed.
  *
  * [[commit]]: write the data, then `gen_<n>.tmp`, rename it to
  * `gen_<n>` (the commit point), and only then delete the previous
  * generation and the folded segments. A crash before the rename leaves
  * the old generation served; a crash after it leaves debris no reader
  * sees (stale markers lose by order, folded segments by the bound);
  * [[purge]] reclaims both. One writer per store.
  */
object SegmentStore {

  /** A committed generation, as its `gen_<no>` marker describes it. */
  final case class Gen(
      no: Long,
      sub: String,
      table: Option[String] = None,
      buckets: Option[Int] = None,
      foldedBelow: Option[Long] = None) {
    def below: Long = foldedBelow.getOrElse(0L)
    def marker: String = (table.toSeq ++ Seq(sub) ++
      buckets.map(_.toString) ++ foldedBelow.map(_.toString)).mkString("\t")
  }

  object Gen {
    /** The generation after `prev`: next number, its own data dir. */
    private[util] def after(prev: Option[Gen]): Gen = {
      val no = prev.fold(1L)(_.no + 1)
      Gen(no, f"gen_data_$no%05d")
    }

    private[util] def parse(no: Long, content: String): Option[Gen] =
      Try(content.split("\t") match {
        case Array(sub, below) => Gen(no, sub, foldedBelow = Some(below.toLong))
        case Array(t, sub, b) => Gen(no, sub, Some(t), Some(b.toInt))
        case Array(t, sub, b, below) =>
          Gen(no, sub, Some(t), Some(b.toInt), Some(below.toLong))
      }).toOption
  }

  private val MarkerName = """gen_(\d{5,})""".r

  /** The store dir's file system and qualified path. Every kernel path
    * derives from it: a relative `dir` otherwise resolves against the
    * working directory for segments and deletes but against
    * `spark.sql.warehouse.dir` for a catalog table's `path`/`LOCATION`,
    * and no purge would ever find the generation data written there.
    */
  private def fsOf(s: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def list(fs: FileSystem, p: Path): Seq[FileStatus] =
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty

  private def idOf(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption
    else None

  /** Committed segments as (id, path), in NUMERIC id order (as text,
    * `seg_100000` would sort before `seg_99999`).
    */
  def segments(
      s: SparkSession, dir: String, prefix: String = "seg_"): Seq[(Long, String)] = {
    val (fs, p) = fsOf(s, dir)
    list(fs, p).filter(_.isDirectory)
      .flatMap(st => idOf(st.getPath.getName, prefix).map(_ -> st.getPath))
      .filter { case (_, q) => committed(fs, q) }
      .sortBy(_._1).map { case (id, q) => id -> q.toString }
  }

  private def committed(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Whether the write into `dir` committed. */
  def committed(s: SparkSession, dir: String): Boolean = {
    val (fs, p) = fsOf(s, dir)
    committed(fs, p)
  }

  /** The id an appending write claims: one past the newest committed. */
  def nextId(s: SparkSession, dir: String, prefix: String = "seg_"): Long =
    segments(s, dir, prefix).lastOption.fold(0L)(_._1 + 1)

  def segPath(dir: String, id: Long, prefix: String = "seg_"): String =
    f"$dir/$prefix$id%05d"

  private def dataDir(s: SparkSession, dir: String, gen: Gen): String =
    new Path(fsOf(s, dir)._2, gen.sub).toString

  private def markers(fs: FileSystem, p: Path): Seq[(Long, Path)] =
    list(fs, p).filter(_.isFile).flatMap(st => st.getPath.getName match {
      case MarkerName(n) => Some(n.toLong -> st.getPath)
      case _ => None
    }).sortBy(_._1)

  private def read(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** The newest committed generation, if any. */
  def currentGen(s: SparkSession, dir: String): Option[Gen] = {
    val (fs, p) = fsOf(s, dir)
    markers(fs, p).lastOption.map { case (no, m) =>
      val content = read(fs, m)
      Gen.parse(no, content).getOrElse(sys.error(
        s"malformed generation marker in $dir: " + content.replace("\t", "\\t")))
    }
  }

  /** What a reader at `beforeId` sees: the newest generation plus the
    * committed segments with id in `[its bound, beforeId)`. Fails
    * loudly if a compaction folded segments at or past `beforeId` — a
    * replayed epoch would read its own future otherwise.
    */
  def history(
      s: SparkSession, dir: String, beforeId: Long,
      prefix: String = "seg_"): (Option[Gen], Seq[(Long, String)]) = {
    val gen = currentGen(s, dir)
    val below = gen.fold(0L)(_.below)
    require(below <= beforeId,
      s"compaction of $dir folded segments up to $below, beyond the " +
        s"requested history bound $beforeId — compact with " +
        "keepNewestSegments >= 1 while a stream feeds the store")
    (gen, segments(s, dir, prefix)
      .filter { case (id, _) => id >= below && id < beforeId })
  }

  /** [[history]] as parquet paths: the generation's data dir, then the
    * segments.
    */
  def historyPaths(
      s: SparkSession, dir: String, beforeId: Long,
      prefix: String = "seg_"): Seq[String] = {
    val (gen, segs) = history(s, dir, beforeId, prefix)
    gen.map(dataDir(s, dir, _)).toSeq ++ segs.map(_._2)
  }

  /** The segments a compaction folds: committed ids at or above the
    * current bound, minus the newest `keepNewest`. Keep ≥ 1 while a
    * stream feeds the store: Structured Streaming may replay its newest
    * epoch, which must still find its own segment outside the fold.
    */
  def foldScope(
      s: SparkSession, dir: String, prev: Option[Gen], keepNewest: Int,
      prefix: String = "seg_"): Seq[(Long, String)] = {
    require(keepNewest >= 0, "compact: keepNewestSegments must be >= 0")
    segments(s, dir, prefix).filter(_._1 >= prev.fold(0L)(_.below))
      .dropRight(keepNewest)
  }

  /** Commit `gen` over `prev`: `write` lands the data in
    * [[dataDir]], then the marker commits by `gen_<n>.tmp` → `gen_<n>`
    * rename, then `prev` (catalog handle, marker, data dir) and the
    * `folded` segments are deleted.
    */
  private def commit(
      s: SparkSession, dir: String, prev: Option[Gen], gen: Gen,
      folded: Seq[(Long, String)])(write: String => Unit): Unit = {
    val (fs, p) = fsOf(s, dir)
    fs.mkdirs(p)
    write(new Path(p, gen.sub).toString)
    val tmp = new Path(p, f"gen_${gen.no}%05d.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.marker.getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, new Path(p, f"gen_${gen.no}%05d"))
    prev.foreach { g =>
      g.table.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      fs.delete(new Path(p, f"gen_${g.no}%05d"), false)
      fs.delete(new Path(p, g.sub), true)
    }
    folded.foreach { case (_, q) => fs.delete(new Path(q), true) }
  }

  /** Store-scoped catalog name: it embeds a hash of the store dir, so
    * two stores compacted with the same prefix never write one table.
    */
  private def tableFor(prefix: String, dir: String, gen: Long): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    f"${prefix}_${h}_g$gen%05d"
  }

  /** [[commit]] of `data` as an external catalog table bucketed and
    * sorted by `key`, so the per-ingest probe reads the store side
    * without an exchange. Returns the table name.
    */
  def commitBucketed(
      s: SparkSession, dir: String, prev: Option[Gen],
      folded: Seq[(Long, String)], data: DataFrame, key: String,
      buckets: Int, tablePrefix: String, foldedBelow: Option[Long]): String = {
    require(buckets > 0, "buckets must be positive")
    val next = Gen.after(prev)
    val table = tableFor(tablePrefix, dir, next.no)
    commit(s, dir, prev, next.copy(table = Some(table),
        buckets = Some(buckets), foldedBelow = foldedBelow), folded) { out =>
      // a crashed earlier attempt at this generation may have left the
      // handle registered over a half-written dir
      s.sql(s"DROP TABLE IF EXISTS $table")
      data.write.bucketBy(buckets, key).sortBy(key)
        .option("path", out).mode("overwrite").saveAsTable(table)
    }
    table
  }

  /** The catalog handle of a bucketed generation, registered first if
    * this session has never seen it (a fresh session over a persisted
    * store): the marker carries the data dir and bucket count, so reads
    * stay exchange-free after a restart, not just readable.
    */
  def table(
      s: SparkSession, dir: String, gen: Gen, schema: StructType,
      key: String): String = {
    val t = gen.table.getOrElse(
      sys.error(s"generation ${gen.no} of $dir has no catalog table"))
    if (!s.catalog.tableExists(t))
      s.sql(
        s"""CREATE TABLE $t (${schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO ${gen.buckets.get} BUCKETS
           |LOCATION '${dataDir(s, dir, gen)}'""".stripMargin)
    t
  }

  /** Drop the catalog handle of every generation marker anywhere under
    * `root` — each store's there, current or superseded. The on-disk
    * data is the caller's to delete.
    */
  def dropTables(s: SparkSession, root: String): Unit = {
    val (fs, p) = fsOf(s, root)
    if (fs.exists(p)) {
      val files = fs.listFiles(p, true)
      while (files.hasNext) {
        val m = files.next().getPath
        m.getName match {
          case MarkerName(n) => Gen.parse(n.toLong, read(fs, m)).flatMap(_.table)
            .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
          case _ =>
        }
      }
    }
  }

  /** Delete every segment dir, committed or not, with id < `below`.
    * @return the (id, path) pairs deleted.
    */
  def dropBelow(
      s: SparkSession, dir: String, below: Long,
      prefix: String = "seg_"): Seq[(Long, String)] = {
    val (fs, p) = fsOf(s, dir)
    list(fs, p).filter(_.isDirectory)
      .flatMap(st => idOf(st.getPath.getName, prefix).filter(_ < below)
        .map(_ -> st.getPath))
      .sortBy(_._1)
      .filter { case (_, q) => fs.delete(q, true) }
      .map { case (id, q) => id -> q.toString }
  }

  /** GC of crash debris no reader sees: every non-newest marker with its
    * catalog handle and data dir, leftover `gen_*.tmp` files, the data
    * dir of a generation whose marker never committed, and segments
    * below the newest generation's bound. Safe whenever the single
    * writer is not mid-compact; a crash mid-purge just leaves less for
    * the next one.
    *
    * @return paths deleted
    */
  def purge(s: SparkSession, dir: String, prefix: String = "seg_"): Seq[String] = {
    val (fs, p) = fsOf(s, dir)
    val deleted = Seq.newBuilder[String]
    def rm(q: Path, recursive: Boolean): Unit =
      if (fs.delete(q, recursive)) deleted += q.toString
    val ms = markers(fs, p)
    val newest = ms.lastOption.map { case (no, m) => Gen.parse(no, read(fs, m)) }
    ms.dropRight(1).foreach { case (no, m) =>
      Gen.parse(no, read(fs, m)).foreach { g =>
        g.table.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        rm(new Path(p, g.sub), recursive = true)
      }
      rm(m, recursive = false)
    }
    list(fs, p).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name.matches("gen_\\d{5,}\\.tmp")) rm(st.getPath, recursive = false)
      // an unparseable newest marker keeps every data dir
      else if (st.isDirectory && name.startsWith("gen_data_") &&
          !newest.contains(None) && !newest.flatten.exists(_.sub == name))
        rm(st.getPath, recursive = true)
    }
    newest.flatten.flatMap(_.foldedBelow)
      .foreach(below => deleted ++= dropBelow(s, dir, below, prefix).map(_._2))
    deleted.result()
  }

  /** The sum-meter fold: per-`keys` sums of every other `schema` column
    * (one row when `keys` is empty).
    */
  def sums(df: DataFrame, schema: StructType, keys: Seq[String]): DataFrame = {
    val vs = schema.fieldNames.toSeq.filterNot(keys.contains)
      .map(c => sum(col(c)).as(c))
    df.groupBy(keys.map(col): _*).agg(vs.head, vs.tail: _*)
  }

  /** A sum meter's state before segment `beforeId`: the generation plus
    * the segments of [[history]], folded by [[sums]].
    */
  def loadSums(
      s: SparkSession, dir: String, beforeId: Long, schema: StructType,
      keys: Seq[String], prefix: String = "seg_"): DataFrame = {
    val paths = historyPaths(s, dir, beforeId, prefix)
    if (paths.isEmpty) Frames.emptyLocal(s, schema)
    else sums(s.read.schema(schema).parquet(paths: _*), schema, keys)
  }

  /** Fold a sum meter's [[foldScope]] and its previous generation into a
    * new generation. Sum-safe under crashes: readers skip segments below
    * the bound, so a folded segment a crashed cleanup left never counts
    * twice.
    *
    * @return the new `foldedBelow` bound, or -1 if nothing to fold.
    */
  def compactSums(
      s: SparkSession, dir: String, schema: StructType, keys: Seq[String],
      keepNewest: Int, prefix: String = "seg_"): Long = {
    val prev = currentGen(s, dir)
    val folded = foldScope(s, dir, prev, keepNewest, prefix)
    if (folded.isEmpty) return -1L
    val gen = Gen.after(prev).copy(foldedBelow = Some(folded.last._1 + 1))
    commit(s, dir, prev, gen, folded) { out =>
      // file-count-BOUNDED write, not coalesce(1): a keyed meter holds
      // one row per key (millions of domains at 100 TB); 1/32 of the
      // shuffle partitions keeps a local[32] layout at one file
      sums(s.read.schema(schema)
          .parquet(prev.map(dataDir(s, dir, _)).toSeq ++ folded.map(_._2): _*),
          schema, keys)
        .coalesce(math.max(1, s.sessionState.conf.numShufflePartitions / 32))
        .write.mode("overwrite").parquet(out)
    }
    gen.below
  }

  /** Run `main` while the independent `writes` run on side threads —
    * the engine's one driver-side fork: segment writes of the store
    * backfills, q183's index builds, the curation stream's second
    * compaction. Every write is joined before this returns or throws, so
    * none outlives the call: the first failure propagates (`main`'s
    * first) and later ones ride along as suppressed exceptions.
    */
  def withWrites[A](writes: Seq[() => Unit])(main: => A): A = {
    val forks = writes.map(w => CompletableFuture.runAsync(() => w()))
    var failure: Throwable = null
    val result = try Some(main) catch { case t: Throwable => failure = t; None }
    forks.foreach { f =>
      try f.join()
      catch {
        case t: Throwable =>
          val cause = t match {
            case c: CompletionException if c.getCause != null => c.getCause
            case other => other
          }
          if (failure == null) failure = cause else failure.addSuppressed(cause)
      }
    }
    if (failure != null) throw failure
    result.get
  }
}
