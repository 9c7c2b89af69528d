package graft.sinks

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** S7 — upsert ("merge-by-key") sink over parquet directories
  * (SURVEY.md §2.1 S7; ref uploadtodb.py:159-198 batched REST upsert).
  *
  * Files have no in-place MERGE, so: read existing ⟗ incoming on the key,
  * per-column coalesce(new, old), write a NEW VERSION directory, commit
  * it with an atomic manifest flip. Incoming wins per column only where
  * it is non-null — matching Postgres upsert column semantics where every
  * mapped column is overwritten, while letting a technical-only row merge
  * with an earlier fundamental-only row (ref: both pipelines upsert into
  * the same `stock_data`).
  *
  * `overwriteColumns`: when provided, ONLY these columns are taken from
  * the incoming side (ref S9 keyed-update sink, sectorscore.py:142-170).
  *
  * == Versioned commit (snapshot isolation + multi-writer CAS) ==
  *
  * Store layout:
  * {{{
  *   path/v=N/                  immutable, fully-written version directories
  *   path/v=N/_graft_committed  commit record: the written schema as JSON
  *   path/_manifest             tiny file holding the committed version number N
  *   path/.stage-<uuid>         invisible per-writer staging dirs (pre-claim)
  *   path/_legacy               migration tombstone: pre-versioned entries to GC
  * }}}
  * A writer stages version N+1 COMPLETELY in a private `.stage-<uuid>`
  * directory, then CLAIMS the version with an atomic
  * rename-without-overwrite onto `v=N+1` (`FileContext.rename` with
  * `Rename.NONE` — fails if the destination exists, a single metadata op
  * on HDFS and local fs). Exactly one concurrent writer wins the claim;
  * the loser deletes its staging dir, waits for the winner's manifest
  * flip, and RETRIES its merge against the winner's committed snapshot —
  * a compare-and-swap loop, so concurrent upserts serialize instead of
  * interleaving files in a shared directory. Only the claim winner for
  * N+1 ever flips the manifest to N+1, and a claimant of N+2 exists only
  * after observing the manifest at N+1, so manifest flips are strictly
  * monotone. Readers resolve the manifest first ([[readCommitted]]) and
  * only ever see a version that finished writing: a reader that resolved
  * N before the flip keeps scanning the untouched `v=N` directory while
  * N+1 commits — snapshot isolation. This is the single-table core of a
  * lakehouse manifest commit (Delta/Iceberg pattern, public design).
  *
  * Crash window: a writer that dies AFTER claiming `v=N+1` but BEFORE
  * flipping the manifest leaves the claim dir orphaned; concurrent
  * losers time out waiting for the flip and fail loudly naming the
  * orphan (remediation: delete the orphan dir or flip the manifest by
  * hand after inspecting it). A writer that dies pre-claim leaves only
  * an invisible `.stage-*` dir, which never affects readers.
  *
  * Retention: versions more than `retain - 1` behind the head are
  * deleted AFTER the flip (`retain = 2` by default: head + one prior),
  * so an in-flight reader of the prior version has one full merge
  * cycle of slack. `retain` is surfaced on [[upsert]]/[[overwrite]] —
  * a reader holding a snapshot across k concurrent commits needs
  * `retain > k`, and a read of an evicted version fails with the NAMED
  * retain-window error in [[readVersion]], never a raw
  * FileNotFoundException mid-scan of a half-deleted directory. Legacy flat stores
  * (pre-versioned parquet directly under `path` — flat files OR
  * partitioned directory layouts, detected by probing the path as
  * parquet) are read as the existing side on the first versioned
  * commit; their root entries are recorded in a `_legacy` tombstone at
  * migration and deleted only at the NEXT commit's GC, so a reader
  * that resolved the store via the flat fallback gets the same
  * one-cycle slack as versioned readers. GC deletes nothing it cannot
  * positively identify: expired `v=N` dirs and tombstoned legacy
  * entries only — foreign files or directories under the store root
  * are never touched.
  *
  * Reads: the commit record holds the schema the writer used
  * (`StructType.json`), so [[readCommitted]] and [[readVersion]] pass
  * it to `spark.read.schema(...)` and start no Spark job — schema
  * inference would run one to read a parquet footer. Inference remains
  * only where no schema was recorded: legacy flat stores, and versions
  * whose record predates the schema (content `committed`).
  *
  * Writes: one commit is one Spark action, the parquet write. The
  * [[MergeStats]] row counts come from two `Observation`s on that
  * write (incoming rows, written rows), not from recounting passes.
  *
  * Scale: the merge is one full-outer shuffle join on the key. For
  * repeated merges at 100 TB the existing side should be bucketed by the
  * key (`bucketBy` on write) so the join co-locates without re-shuffling
  * the big side; AQE handles skewed keys.
  */
object MergeByKey {

  def merge(existing: DataFrame, incoming: DataFrame, key: String,
      overwriteColumns: Option[Seq[String]] = None): DataFrame = {
    val e = existing.as("e")
    val i = incoming.as("i")
    val eCols = existing.columns.toSeq
    val iCols = incoming.columns.toSeq
    val updatable = overwriteColumns.getOrElse(iCols.filterNot(_ == key))
    val allCols = (eCols ++ iCols.filterNot(eCols.contains)).filterNot(_ == key)
    val joined = e.join(i, col(s"e.$key") === col(s"i.$key"), "full_outer")
    val keyOut = coalesce(col(s"i.$key"), col(s"e.$key")).as(key)
    val merged = allCols.map { c =>
      val fromE = eCols.contains(c)
      val fromI = iCols.contains(c) && updatable.contains(c)
      (fromE, fromI) match {
        case (true, true) => coalesce(col(s"i.$c"), col(s"e.$c")).as(c)
        case (true, false) => col(s"e.$c").as(c)
        case (false, _) => col(s"i.$c").as(c)
      }
    }
    joined.select(keyOut +: merged: _*)
  }

  /** A8 — per-merge success accounting (the reference logs rows-in /
    * rows-out per batch, uploadtodb.py:160-197; SURVEY §5 count
    * reconciliation). Counts come from the sink's own write, not an
    * extra pass. */
  case class MergeStats(incomingRows: Long, mergedRows: Long)

  /** How long a commit waits for its write's observed row counts; they
    * arrive with the query-completion event, normally within
    * milliseconds. Past this, the count is taken by a recount pass. */
  private val ObservationWait = 10.seconds

  /** Attach a row count to `df`, reported when the action writing it
    * completes. */
  private def observeRows(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("rows")), obs)
  }

  /** The row count an observation reported. An observation that reports
    * no metric is 0 rows: the optimizer only prunes an observed subtree
    * it has proven empty (e.g. an empty incoming side of the full-outer
    * merge). A count that does not arrive within [[ObservationWait]]
    * falls back to `recount`. */
  private def observedRows(obs: Observation)(recount: => Long): Long =
    try {
      val row = Await.result(obs.future, ObservationWait)
      if (row.length == 0) 0L else row.getLong(0)
    } catch { case _: TimeoutException => recount }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed version number, or None when the store has never
    * had a versioned commit (absent, or a legacy flat parquet dir).
    * Reads the manifest to EOF — `InputStream.read` may return fewer
    * bytes than the file holds, and a short read of "12" as "1" would
    * silently resolve an older (possibly GC'd) snapshot — and fails
    * loudly on an empty or non-numeric manifest rather than guessing. */
  def committedVersion(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val manifest = new Path(s"$path/_manifest")
    if (!f.exists(manifest)) None
    else {
      val s = readFully(spark, manifest).trim
      if (s.isEmpty || !s.forall(c => c.isDigit || c == '-') || s == "-")
        throw new IllegalStateException(
          s"corrupt manifest at $manifest: '$s' is not a version number — " +
            "restore it to the highest fully-written v=N before reading")
      Some(s.toLong)
    }
  }

  /** Read the committed snapshot of a versioned store; falls back to a
    * flat parquet read for legacy (pre-versioned) directories so old
    * stores keep resolving until their first versioned commit. */
  def readCommitted(spark: SparkSession, path: String): DataFrame =
    committedVersion(spark, path) match {
      case Some(v) => readVersionDir(spark, new Path(s"$path/v=$v"))
      case None => spark.read.parquet(path)
    }

  /** Name of the per-version commit record the claim winner drops into
    * `v=N` just before flipping the manifest (while it still holds the
    * claim, so nothing can commit in between). Historical reads require
    * it: a stale writer that wins a claim on a GC'd slot transiently
    * creates a `v=K` dir (K < head) holding UNCOMMITTED merge output
    * until its recheck deletes it — without the record, a concurrent
    * time-travel read of K would return that wrong data as committed
    * history (r18 ADVICE, medium). Its content is the written schema
    * as JSON; records from before the schema was stored read
    * `committed`. */
  private val CommitRecord = "_graft_committed"

  private def writeCommitRecord(spark: SparkSession, dir: Path,
      schema: StructType): Unit = {
    val out = fs(spark, dir.toString).create(new Path(dir, CommitRecord), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** Read one version directory with the schema its commit record
    * holds; without one (no record, or a pre-schema `committed`
    * record) Spark infers the schema from a parquet footer. */
  private def readVersionDir(spark: SparkSession, dir: Path): DataFrame = {
    val record = new Path(dir, CommitRecord)
    val recorded =
      if (fs(spark, dir.toString).exists(record)) readFully(spark, record).trim
      else ""
    if (recorded.startsWith("{"))
      spark.read.schema(DataType.fromJson(recorded).asInstanceOf[StructType])
        .parquet(dir.toString)
    else spark.read.parquet(dir.toString)
  }

  /** TIME-TRAVEL read: resolve a specific historical version of the
    * store — "what did the table say before last night's merge?" is a
    * one-call diff against `readCommitted`. Only versions inside the
    * GC retain window still exist (gc keeps `retain` behind the
    * committed head); asking for an evicted or future version fails
    * loudly with the live range instead of resolving the wrong
    * snapshot, and a surviving `v=` dir WITHOUT a commit record (a
    * stale CAS claim mid-recheck, or debris from a GC failure) is
    * rejected the same way rather than served as history. The head
    * version needs no record — the manifest itself vouches for it. */
  def readVersion(spark: SparkSession, path: String,
      version: Long): DataFrame = {
    val cur = committedVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no versioned commits to time-travel into"))
    val f = fs(spark, path)
    val dir = new Path(s"$path/v=$version")
    val committedRecord = version == cur ||
      (f.exists(dir) && f.exists(new Path(dir, CommitRecord)))
    if (version > cur || !f.exists(dir) || !committedRecord)
      throw new IllegalStateException(
        s"version $version of $path is not readable: committed head is " +
          s"v=$cur, older versions may be GC'd (retain window), and a " +
          "version dir without a commit record is an uncommitted stale " +
          "claim, never history — live committed versions: " +
          f.listStatus(new Path(path))
            .map(_.getPath.getName)
            .filter(n => n.startsWith("v=") &&
              n.stripPrefix("v=").forall(_.isDigit))
            .filter(n => n == s"v=$cur" ||
              f.exists(new Path(s"$path/$n/$CommitRecord")))
            .sortBy(_.stripPrefix("v=").toLong).mkString(", "))
    readVersionDir(spark, dir)
  }

  /** KEYED DIFF between two committed versions — the CDC read the
    * versioned layout makes one join away: "what did last night's
    * merge change?" is `diffVersions(path, key, head-1, head)`.
    * Output: one row per key present in either snapshot, labeled
    * `added` (absent from vOld), `removed` (absent from vNew — a
    * truncate-and-load can drop keys; upsert never does), `changed`
    * (any shared non-key column differs, null-safe), or `unchanged`.
    * Both versions must be inside the retain window ([[readVersion]]
    * enforces the commit record + the named eviction error), so size
    * `retain` to the diff horizon you need. One full-outer shuffle
    * join on the key — the merge's own cost shape; at 100 TB bucket
    * the store by the key and the diff co-locates like the merge. */
  def diffVersions(spark: SparkSession, path: String, key: String,
      vOld: Long, vNew: Long): DataFrame = {
    val o = readVersion(spark, path, vOld).as("o")
    val n = readVersion(spark, path, vNew).as("n")
    val shared = o.columns.toSeq.intersect(n.columns.toSeq)
      .filterNot(_ == key)
    val anyChanged =
      if (shared.isEmpty) lit(false)
      else shared.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
        .reduce(_ || _)
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .select(coalesce(col(s"n.$key"), col(s"o.$key")).as(key),
        when(col(s"o.$key").isNull, lit("added"))
          .when(col(s"n.$key").isNull, lit("removed"))
          .when(anyChanged, lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
  }

  /** Atomically flip `path/_manifest` to `version`: write a writer-
    * private temp file, rename over the manifest (Rename.OVERWRITE —
    * atomic metadata op on HDFS and local fs). Only ever called by the
    * claim winner of `version`, which keeps flips monotone. */
  private[graft] def commitManifest(spark: SparkSession, path: String,
      version: Long): Unit = {
    val f = fs(spark, path)
    // Monotone-flip guard (r17 ADVICE, high): a stale writer that read
    // cur=N long ago can win the claim of v=N+1 AFTER concurrent
    // writers advanced the manifest to N+3 and gc (retain=2) deleted
    // the original v=N+1 — flipping N+3 -> N+1 here would silently
    // drop their committed upserts. Refuse to ever move backward; the
    // caller's recheck makes this unreachable, this is the backstop.
    committedVersion(spark, path).foreach { cur =>
      if (cur >= version) throw new IllegalStateException(
        s"refusing to flip $path/_manifest backward: committed v=$cur " +
          s">= claimed v=$version (stale CAS claim after GC)")
    }
    val tmp = new Path(s"$path/.manifest-${java.util.UUID.randomUUID()}")
    val manifest = new Path(s"$path/_manifest")
    val out = f.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(tmp.toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, manifest, Options.Rename.OVERWRITE)
  }

  /** CAS claim of a version directory: rename the fully-staged dir onto
    * `v=N` WITHOUT overwrite. Exactly one concurrent claimant succeeds;
    * the rest observe the existing destination and return false. */
  private def claimVersion(spark: SparkSession, stage: Path,
      dest: Path): Boolean = {
    val fc = FileContext.getFileContext(stage.toUri,
      spark.sparkContext.hadoopConfiguration)
    try { fc.rename(stage, dest, Options.Rename.NONE); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        // some FileSystems surface the existing destination as a plain
        // IOException — treat as a lost race only when dest exists
        if (fs(spark, dest.toString).exists(dest)) false else throw e
    }
  }

  /** Block until the manifest reaches `version` (a lost claim means the
    * winner is mid-commit). Fails loudly after `timeoutMs` naming the
    * orphaned claim dir — the crashed-winner window documented above. */
  private def awaitCommit(spark: SparkSession, path: String, version: Long,
      timeoutMs: Long = 60000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (committedVersion(spark, path).getOrElse(-1L) < version) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(
        s"lost the claim on $path/v=$version but its writer never " +
          "flipped the manifest (crashed mid-commit?) — inspect and " +
          "delete the orphan dir or flip _manifest to it by hand")
      Thread.sleep(50)
    }
  }

  /** Is this root entry positively identifiable as parquet writer
    * output — flat data files, writer sidecars, or a `col=value`
    * partition directory? Only such entries are ever tombstoned for
    * legacy GC; anything else at the root is foreign content and is
    * left alone forever. (A legacy partition column literally named
    * `v` would collide with the version layout and is unsupported.) */
  private def looksLikeParquetOutput(name: String): Boolean =
    name.endsWith(".parquet") || name.endsWith(".crc") ||
      name == "_SUCCESS" || name == "_metadata" ||
      name == "_common_metadata" || name.startsWith("part-") ||
      (name.contains("=") && !name.startsWith("v="))

  /** Entries the migration commit will tombstone: the root entries the
    * legacy read actually consumed, filtered to positively-identified
    * parquet output. Recorded at the moment the legacy data is READ,
    * so GC later deletes exactly what the migration consumed — never
    * a guess. */
  private def legacyRootEntries(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).map(_.getPath.getName)
      .filterNot(n => n.startsWith("v=") || n.startsWith("_manifest") ||
        n.startsWith(".stage-") || n.startsWith(".manifest-") ||
        n == "_legacy")
      .filter(looksLikeParquetOutput).toSeq
  }

  private def writeLegacyTombstone(spark: SparkSession, path: String,
      entries: Seq[String]): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(s"$path/_legacy"), true)
    try out.write(entries.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Read a small control file to EOF (see [[committedVersion]] for why
    * a single read() call is not enough). */
  private def readFully(spark: SparkSession, p: Path): String = {
    val in = fs(spark, p.toString).open(p)
    val bytes = new java.io.ByteArrayOutputStream()
    try {
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    new String(bytes.toByteArray, "UTF-8")
  }

  /** Post-flip garbage collection. Deletes ONLY what it can positively
    * identify: `v=N` dirs at least `retain` behind the committed
    * version, and — one full commit cycle after a legacy migration —
    * the root entries the `_legacy` tombstone recorded as consumed by
    * that migration (its `#v=M` header says which commit wrote it; the
    * migration's own gc call sees committed == M and leaves everything
    * for the deferred cycle). Unknown files/dirs at the root are never
    * touched (a store path accidentally shared with other content must
    * not lose it), and live `.stage-*` dirs belong to in-flight
    * writers. */
  private def gc(spark: SparkSession, path: String, committed: Long,
      retain: Int = 2): Unit = {
    val f = fs(spark, path)
    f.listStatus(new Path(path)).foreach { st =>
      val name = st.getPath.getName
      // suffix must parse as a version: a foreign `v=x` entry (e.g. a
      // legacy partition column named v) is never-touch content, not a
      // permanent NumberFormatException for every later commit
      val suffix = name.stripPrefix("v=")
      if (name.startsWith("v=") && suffix.nonEmpty && suffix.forall(_.isDigit)) {
        val v = suffix.toLong
        if (v <= committed - retain) f.delete(st.getPath, true)
      }
    }
    val tomb = new Path(s"$path/_legacy")
    if (f.exists(tomb)) {
      val lines = readFully(spark, tomb).split("\n")
        .map(_.trim).filter(_.nonEmpty)
      val writtenAt = lines.headOption.filter(_.startsWith("#v="))
        .map(_.stripPrefix("#v=").toLong).getOrElse(0L)
      if (committed > writtenAt) {
        lines.filterNot(_.startsWith("#")).foreach { entry =>
          val p = new Path(s"$path/$entry")
          if (f.exists(p)) f.delete(p, true)
        }
        f.delete(tomb, false)
      }
    }
  }

  /** Directory-aware legacy detection: a pre-versioned store may be
    * flat root files OR a partitioned/nested parquet layout with no
    * root `*.parquet` at all. Probe by reading ONLY the positively-
    * identified parquet entries (with `basePath` so partition columns
    * survive) — a foreign file sitting next to the legacy data must
    * neither break the probe nor exclude the data from the merge. */
  private def probeLegacy(spark: SparkSession, path: String): Option[DataFrame] = {
    val dataEntries = legacyRootEntries(spark, path)
      .filterNot(n => n.endsWith(".crc") || n == "_SUCCESS" ||
        n == "_metadata" || n == "_common_metadata")
    if (dataEntries.isEmpty) None
    else try {
      val df = spark.read.option("basePath", path)
        .parquet(dataEntries.map(n => s"$path/$n"): _*)
      df.schema // force schema resolution
      Some(df)
    } catch {
      // Only an AnalysisException (schema inference rejected the
      // content) means "not legacy parquet". Anything else — an
      // IOException, a corrupt footer in a positively-identified
      // parquet entry — must NOT read as None (r17 ADVICE, medium):
      // readCommitted never falls back once a manifest exists, so
      // swallowing it would make the first versioned commit contain
      // only incoming rows and the flat-store data would silently
      // disappear from the committed view. Rethrow so a flaky or
      // corrupt read fails THIS commit instead.
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Merge `incoming` into the versioned store at `path` (created if
    * absent): stage version N+1 fully in a private dir, claim `v=N+1`
    * with an atomic no-overwrite rename, flip the manifest, GC. A lost
    * claim (concurrent writer) waits for the winner's flip and retries
    * the merge against the NEW committed snapshot — CAS semantics, up
    * to `maxAttempts` rounds. Readers concurrent with the merge keep
    * their resolved snapshot throughout. Returns count reconciliation
    * stats, observed during the write: a commit runs one Spark action. */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
      key: String, overwriteColumns: Option[Seq[String]] = None,
      outputPartitions: Int = 0, maxAttempts: Int = 5,
      retain: Int = 2): MergeStats = {
    // retain is the reader-slack contract: a reader pinned to version N
    // keeps reading while up to retain-1 further commits land; commit
    // retain+k evicts N and the reader (or a time-travel readVersion)
    // fails with the NAMED retain-window error, never a raw
    // FileNotFoundException from a half-deleted directory — size it to
    // the store's slowest reader (e.g. a long training job holding a
    // snapshot across many merge cycles needs retain > cycles).
    require(retain >= 1, s"retain must keep at least the head (got $retain)")
    val f = fs(spark, path)
    var attempt = 0
    while (true) {
      attempt += 1
      val cur = committedVersion(spark, path)
      val legacyDf = if (cur.isEmpty) probeLegacy(spark, path) else None
      val legacyEntries =
        if (legacyDf.isDefined) legacyRootEntries(spark, path) else Seq.empty
      val existing: Option[DataFrame] =
        if (cur.isDefined) Some(readCommitted(spark, path)) else legacyDf
      // fresh observations per attempt: a retry is a new write
      val (observedIn, inObs) = observeRows(incoming)
      val merged = existing match {
        case Some(e) => merge(e, observedIn, key, overwriteColumns)
        case None => observedIn
      }
      // repeated merges otherwise accumulate shuffle-partition-many small
      // files per cycle; hash-repartitioning on the key also keeps rows
      // with the same key in one file (compact + predictable)
      val (out, outObs) = observeRows(
        if (outputPartitions > 0) merged.repartition(outputPartitions, col(key))
        else merged)
      val next = cur.getOrElse(-1L) + 1L
      val stage = new Path(s"$path/.stage-${java.util.UUID.randomUUID()}")
      out.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      // counts resolve BEFORE the claim, so a recount (only if the
      // observation is late) still sees what the write saw: the incoming
      // lineage may itself read the committed snapshot, and the staged
      // output has not moved yet
      val incomingRows = observedRows(inObs)(incoming.count())
      val mergedRows =
        observedRows(outObs)(spark.read.parquet(stage.toString).count())
      val claimed = new Path(s"$path/v=$next")
      if (claimVersion(spark, stage, claimed)) {
        // Stale-claim recheck (r17 ADVICE, high): the claim can succeed
        // against a GC'd slot — a writer that read cur=N and staged
        // slowly wins v=N+1 after concurrent writers advanced the
        // manifest past it and gc deleted the original v=N+1. Winning
        // the claim is only a lock when the manifest still reads
        // next-1; otherwise our merge base is stale — discard the
        // claimed dir and retry against the new snapshot. (When the
        // recheck passes, nothing can advance the manifest before our
        // flip: any later commit must first claim v=next, which we
        // hold.)
        if (committedVersion(spark, path).getOrElse(-1L) != next - 1L) {
          f.delete(claimed, true)
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"upsert to $path lost the version claim $maxAttempts times — " +
              "writer contention exceeds the CAS retry budget")
          // no awaitCommit: the manifest has already moved past next-1
        } else {
          if (legacyEntries.nonEmpty)
            writeLegacyTombstone(spark, path,
              s"#v=$next" +: legacyEntries)
          // commit record BEFORE the flip, while we still hold the claim
          // (nothing can commit in between), so every version behind the
          // head carries proof it was really committed — see readVersion
          writeCommitRecord(spark, claimed, out.schema)
          commitManifest(spark, path, next)
          gc(spark, path, next, retain)
          // the store gained a version: drop any cached listing of the root
          spark.catalog.refreshByPath(path)
          return MergeStats(incomingRows, mergedRows)
        }
      } else {
        // lost the race: discard the stage, wait for the winner's commit
        // so the retry merges against it (re-merging is required — the
        // staged data was computed against a now-stale snapshot)
        f.delete(stage, true)
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"upsert to $path lost the version claim $maxAttempts times — " +
            "writer contention exceeds the CAS retry budget")
        awaitCommit(spark, path, next)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** S8 truncate-and-load (ref sectormerged_improved.py:629-645) — the
    * same staged-claim-flip commit with the new snapshot REPLACING the
    * table: a reader mid-scan of the previous version is undisturbed;
    * the next manifest resolution sees only the loaded snapshot. A lost
    * claim just re-derives the next version (no re-merge needed — the
    * load does not depend on prior content). */
  def overwrite(df: DataFrame, path: String, maxAttempts: Int = 5,
      retain: Int = 2): Unit = {
    val spark = df.sparkSession
    require(retain >= 1, s"retain must keep at least the head (got $retain)")
    val f = fs(spark, path)
    var attempt = 0
    while (true) {
      attempt += 1
      val next = committedVersion(spark, path).getOrElse(-1L) + 1L
      val stage = new Path(s"$path/.stage-${java.util.UUID.randomUUID()}")
      df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val claimed = new Path(s"$path/v=$next")
      if (claimVersion(spark, stage, claimed)) {
        // same stale-claim recheck as upsert: a claim won against a
        // GC'd slot must not flip the manifest backward
        if (committedVersion(spark, path).getOrElse(-1L) != next - 1L) {
          f.delete(claimed, true)
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"overwrite of $path lost the version claim $maxAttempts times")
        } else {
          writeCommitRecord(spark, claimed, df.schema)
          commitManifest(spark, path, next)
          gc(spark, path, next, retain)
          spark.catalog.refreshByPath(path)
          return
        }
      } else {
        f.delete(stage, true)
        if (attempt >= maxAttempts) throw new IllegalStateException(
          s"overwrite of $path lost the version claim $maxAttempts times")
        awaitCommit(spark, path, next)
      }
    }
  }
}
