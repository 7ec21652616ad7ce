package graft.sinks

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *   path/v=N/          immutable, fully-written version directories
  *   path/_manifest     tiny file holding the committed version number N
  *   path/.stage-<uuid> invisible per-writer staging dirs (pre-claim)
  * }}}
  * [[upsert]] and [[overwrite]] share one commit loop. A writer stages
  * version N+1 COMPLETELY in a private `.stage-<uuid>` directory, then
  * CLAIMS the version with an atomic rename-without-overwrite onto
  * `v=N+1` (`FileContext.rename` with `Rename.NONE` — fails if the
  * destination exists, a single metadata op on HDFS and local fs).
  * Exactly one concurrent writer wins the claim; the loser deletes its
  * staging dir, waits for the winner's manifest flip, and RETRIES against
  * the winner's committed snapshot — a compare-and-swap loop, so
  * concurrent writers serialize instead of interleaving files in a
  * shared directory. Only the claim winner for N+1 ever flips the
  * manifest to N+1, and a claimant of N+2 exists only after observing
  * the manifest at N+1, so manifest flips are strictly monotone. Readers
  * resolve the manifest first ([[readCommitted]]) and only ever see a
  * version that finished writing: a reader that resolved N before the
  * flip keeps scanning the untouched `v=N` directory while N+1 commits —
  * snapshot isolation. This is the single-table core of a lakehouse
  * manifest commit (Delta/Iceberg pattern, public design).
  *
  * == Pinned snapshots ==
  *
  * A reader resolves a version in two steps: read the manifest for N,
  * then take the relation of `v=N`. Building that relation
  * (`spark.read.parquet`) lists the directory and runs one Spark job to
  * read a parquet footer, so the first read of N in a session PINS it:
  * the relation is kept with one data file it listed, and later reads
  * of N in the same session reuse it after the manifest read and one
  * existence check, running no Spark job. A commit pins what it wrote:
  * after the manifest flip it drops every pin of its path, since none
  * can match the manifest again, and pins `v=N+1` for the writer's
  * session, read with the schema of the frame it staged — a listing,
  * no footer job — so the writer's next read of the head (the next
  * night's merge, a read right after the upsert) runs no Spark job.
  * Other sessions pin `v=N+1` on their own first read. The commit loop
  * reads its merge head through the same pin. A pin is valid only
  * while the manifest still names N and its data file still exists;
  * part-file names carry a per-write UUID, so a GC'd version, or a
  * store deleted and recreated at the same path with the same version
  * numbers, misses and is rebuilt instead of serving stale files.
  * Bound: one pin per (session, path) — a newer version replaces it —
  * and at most 32 pins per JVM, least recently used evicted. A pin
  * holds no rows, but its key and its relation keep the reading (or
  * writing) SparkSession, with all of that session's state, reachable
  * until the pin goes: a finished streaming query's per-query clone
  * session lives on while one of its pins is among the 32 most
  * recently used and its path has had no commit since. A pin's frame
  * also keeps the screener records `Screeners.respond` computed over it
  * reachable; `Screeners` answers from them only while the frame is
  * pinned ([[isPinned]]), so a commit or an eviction retires them with
  * the pin.
  *
  * Crash window: a writer that dies AFTER claiming `v=N+1` but BEFORE
  * flipping the manifest leaves the claim dir orphaned; concurrent
  * losers time out waiting for the flip and fail loudly naming the
  * orphan (remediation: delete the orphan dir or flip the manifest by
  * hand after inspecting it). A writer that dies pre-claim leaves only
  * an invisible `.stage-*` dir, which never affects readers.
  *
  * Retention: GC runs AFTER the flip and keeps the head and one prior
  * version, so an in-flight reader of the prior version has one full
  * commit cycle of slack. A read of an evicted version fails with the
  * NAMED retain-window error in [[readVersion]], never a raw
  * FileNotFoundException mid-scan of a half-deleted directory. GC
  * deletes only expired `v=N` dirs: foreign files or directories under
  * the store root are never touched.
  *
  * Only versioned stores are read or written. A path with no
  * `_manifest` that holds anything besides `.`-prefixed writer files and
  * `v=N` claim dirs is refused by both writers before anything is
  * staged, and [[readCommitted]] on a path with no manifest fails by
  * name — data this sink did not write is never merged, hidden or read.
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

  /** Commit attempts before contention fails the write loudly. */
  private val maxAttempts = 5

  /** Versions GC keeps: the head and one prior. A reader pinned to
    * version N keeps reading while one further commit lands; the next
    * commit evicts N and the reader (or a time-travel [[readVersion]])
    * fails with the NAMED retain-window error. */
  private val retain = 2

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed version number, or None when the store has never
    * had a versioned commit. Reads the manifest to EOF —
    * `InputStream.read` may return fewer bytes than the file holds, and
    * a short read of "12" as "1" would silently resolve an older
    * (possibly GC'd) snapshot — and fails loudly on an empty or
    * non-numeric manifest rather than guessing. */
  def committedVersion(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val manifest = new Path(s"$path/_manifest")
    if (!f.exists(manifest)) None
    else {
      val s = readFully(spark, manifest).trim
      Some(parseVersion(s).getOrElse(throw new IllegalStateException(
        s"corrupt manifest at $manifest: '$s' is not a version number — " +
          "restore it to the highest fully-written v=N before reading")))
    }
  }

  /** A version number as writers write it: ASCII digits only, in range
    * of a Long. Signs, separators and overflow are None. */
  private def parseVersion(s: String): Option[Long] =
    if (s.forall(c => c >= '0' && c <= '9')) s.toLongOption else None

  /** Read the committed snapshot of a versioned store through its pin
    * (see "Pinned snapshots" above). A path with no manifest fails by
    * name instead of being read as plain parquet. */
  def readCommitted(spark: SparkSession, path: String): DataFrame =
    committedVersion(spark, path) match {
      case Some(v) => snapshot(spark, path, v)
      case None => throw new IllegalStateException(
        s"$path is not a versioned store: it has no _manifest, so there " +
          "is no committed version to read")
    }

  /** A committed version's relation and one data file it listed. */
  private final case class Pin(version: Long, df: DataFrame, file: Path)

  /** Pins kept per JVM. Each pin keeps its session reachable; past
    * this the least recently used goes, so a session that stopped
    * reading (a finished streaming query's clone, a deleted scratch
    * store's reader) is not held for good. */
  private[graft] val maxPins = 32

  /** Access-ordered, so eviction drops the least recently used pin;
    * guarded by its own monitor. */
  private val pins =
    new java.util.LinkedHashMap[(SparkSession, String), Pin](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Pin]): Boolean =
        size > maxPins
    }

  /** The version `spark` has pinned for `path`, if any. */
  private[graft] def pinnedVersion(spark: SparkSession, path: String): Option[Long] =
    pins.synchronized(Option(pins.get((spark, path)))).map(_.version)

  /** Whether `df` is, by identity, a frame some pin holds right now. */
  private[graft] def isPinned(df: DataFrame): Boolean =
    pins.synchronized(pins.values.stream.anyMatch(_.df eq df))

  /** The relation of committed version `v` of `path`: the pinned one
    * when it is for `v` and its data file still exists, else a fresh
    * read, which becomes the pin. */
  private def snapshot(spark: SparkSession, path: String, v: Long): DataFrame = {
    val key = (spark, path)
    val pin = pins.synchronized(pins.get(key))
    if (pin != null && pin.version == v && fs(spark, path).exists(pin.file))
      pin.df
    else pinVersion(spark, path, v, None)
  }

  /** Read version `v` (with `schema`, the schema it was written with,
    * when the caller holds it: then no footer job runs) and make it
    * `spark`'s pin of `path`. */
  private def pinVersion(spark: SparkSession, path: String, v: Long,
      schema: Option[StructType]): DataFrame = {
    val df = graft.Tables.readParquet(spark, s"$path/v=$v", schema)
    df.inputFiles.headOption.foreach { f =>
      pins.synchronized(pins.put((spark, path),
        Pin(v, df, new Path(new java.net.URI(f)))))
    }
    df
  }

  /** Name of the per-version commit record the claim winner drops into
    * `v=N` just before flipping the manifest (while it still holds the
    * claim, so nothing can commit in between). Historical reads require
    * it: a stale writer that wins a claim on a GC'd slot transiently
    * creates a `v=K` dir (K < head) holding UNCOMMITTED merge output
    * until its recheck deletes it — without the record, a concurrent
    * time-travel read of K would return that wrong data as committed
    * history (r18 ADVICE, medium). */
  private val CommitRecord = "_graft_committed"

  private def writeCommitRecord(spark: SparkSession, dir: Path): Unit = {
    val out = fs(spark, dir.toString).create(new Path(dir, CommitRecord), true)
    try out.write("committed".getBytes("UTF-8")) finally out.close()
  }

  /** TIME-TRAVEL read: resolve a specific historical version of the
    * store — "what did the table say before last night's merge?" is a
    * one-call diff against `readCommitted`. Only versions inside the
    * GC retain window still exist (the head and one prior); asking
    * for an evicted or future version fails loudly with the live range
    * instead of resolving the wrong
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
            .flatMap(st => versionOf(st.getPath.getName))
            .filter(v => v == cur ||
              f.exists(new Path(s"$path/v=$v/$CommitRecord")))
            .sorted.map(v => s"v=$v").mkString(", "))
    spark.read.parquet(dir.toString)
  }

  /** KEYED DIFF between two committed versions — the CDC read the
    * versioned layout makes one join away: "what did last night's
    * merge change?" is `diffVersions(path, key, head-1, head)`.
    * Output: one row per key present in either snapshot, labeled
    * `added` (absent from vOld), `removed` (absent from vNew — a
    * truncate-and-load can drop keys; upsert never does), `changed`
    * (any shared non-key column differs, null-safe), or `unchanged`.
    * Both versions must be inside the retain window — the head and one
    * prior ([[readVersion]] enforces the commit record + the named
    * eviction error). One full-outer shuffle
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
    * winner is mid-commit). Fails loudly after 60 s naming the orphaned
    * claim dir — the crashed-winner window documented above. */
  private def awaitCommit(spark: SparkSession, path: String,
      version: Long): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (committedVersion(spark, path).getOrElse(-1L) < version) {
      if (System.nanoTime() > deadline) throw new IllegalStateException(
        s"lost the claim on $path/v=$version but its writer never " +
          "flipped the manifest (crashed mid-commit?) — inspect and " +
          "delete the orphan dir or flip _manifest to it by hand")
      Thread.sleep(50)
    }
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

  /** The N of a `v=N` entry; None for any other name, including a
    * foreign `v=x`, which is never-touch content rather than a
    * NumberFormatException for every later commit. */
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v=")) parseVersion(name.stripPrefix("v=")) else None

  /** A path with no manifest may hold only `.`-prefixed writer files and
    * `v=N` dirs claimed by a first commit still in flight. Anything else
    * is content this sink did not write: refuse before staging, so the
    * path is left exactly as found. */
  private def requireNoForeignContent(spark: SparkSession,
      path: String): Unit = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (f.exists(root)) {
      val foreign = f.listStatus(root).filterNot { st =>
        val name = st.getPath.getName
        name.startsWith(".") || (st.isDirectory && versionOf(name).isDefined)
      }.map(_.getPath.getName).sorted
      if (foreign.nonEmpty) throw new IllegalStateException(
        s"$path is not a versioned store: it has no _manifest but holds " +
          s"${foreign.mkString(", ")} — move that content away or write " +
          "to an empty path")
    }
  }

  /** Post-flip garbage collection: deletes ONLY `v=N` dirs at least
    * `retain` behind the committed version. Unknown files/dirs at the
    * root are never touched (a store path accidentally shared with other
    * content must not lose it), and live `.stage-*` dirs belong to
    * in-flight writers. */
  private def gc(spark: SparkSession, path: String, committed: Long): Unit = {
    val f = fs(spark, path)
    f.listStatus(new Path(path)).foreach { st =>
      if (versionOf(st.getPath.getName).exists(_ <= committed - retain))
        f.delete(st.getPath, true)
    }
  }

  /** The one commit loop behind [[upsert]] and [[overwrite]]. `stageNext`
    * derives version N+1 from the committed head (None for a new store);
    * the head is read, through its pin, only if `stageNext` uses it. The
    * loop stages N+1 in a private dir, claims `v=N+1` with an atomic
    * no-overwrite rename, rechecks the claim, writes the commit record,
    * flips the manifest and GCs. A lost claim waits for the winner's flip
    * and retries against the NEW head — the staged data was derived from a
    * now-stale one. */
  @annotation.tailrec
  private def commit(spark: SparkSession, path: String, op: String,
      attempt: Int = 1)(stageNext: (=> Option[DataFrame]) => DataFrame): Unit = {
    val cur = committedVersion(spark, path)
    if (cur.isEmpty) requireNoForeignContent(spark, path)
    val next = cur.getOrElse(-1L) + 1L
    val stage = new Path(s"$path/.stage-${java.util.UUID.randomUUID()}")
    val staged = stageNext(cur.map(snapshot(spark, path, _)))
    staged.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val claimed = new Path(s"$path/v=$next")
    val won = claimVersion(spark, stage, claimed)
    // Stale-claim recheck: the claim can succeed against a GC'd slot — a
    // writer that read cur=N and staged slowly wins v=N+1 after
    // concurrent writers advanced the manifest past it and gc deleted
    // the original v=N+1. Winning the claim is only a lock when the
    // manifest still reads next-1; otherwise the staged base is stale.
    // (When the recheck passes, nothing can advance the manifest before
    // our flip: any later commit must first claim v=next, which we hold.)
    if (won && committedVersion(spark, path).getOrElse(-1L) == next - 1L) {
      // commit record BEFORE the flip, while we still hold the claim
      // (nothing can commit in between), so every version behind the
      // head carries proof it was really committed — see readVersion
      writeCommitRecord(spark, claimed)
      commitManifest(spark, path, next)
      gc(spark, path, next)
      // the store gained a version: drop any cached listing of the root,
      // and every pin of it, so no session stays reachable through a pin
      // that can never match the manifest again; then pin what was just
      // written for the writer's session, read with the schema it was
      // written with, so its next read of the head runs no job
      spark.catalog.refreshByPath(path)
      pins.synchronized(pins.keySet.removeIf(_._2 == path))
      pinVersion(spark, path, next, Some(staged.schema))
    } else {
      fs(spark, path).delete(if (won) claimed else stage, true)
      if (attempt >= maxAttempts) throw new IllegalStateException(
        s"$op of $path lost the version claim $maxAttempts times — " +
          "writer contention exceeds the CAS retry budget")
      // a stale won claim needs no wait (the manifest is already past
      // next-1); a lost claim waits for the winner to flip v=next
      if (!won) awaitCommit(spark, path, next)
      commit(spark, path, op, attempt + 1)(stageNext)
    }
  }

  /** Merge `incoming` into the versioned store at `path` (created if
    * absent) through the commit loop. Readers concurrent with the merge
    * keep their resolved snapshot throughout. */
  def upsert(spark: SparkSession, incoming: DataFrame, path: String,
      key: String, overwriteColumns: Option[Seq[String]] = None): Unit =
    commit(spark, path, "upsert") { head =>
      head.fold(incoming)(merge(_, incoming, key, overwriteColumns))
    }

  /** S8 truncate-and-load (ref sectormerged_improved.py:629-645) — the
    * same commit loop with the new snapshot REPLACING the table: a
    * reader mid-scan of the previous version is undisturbed; the next
    * manifest resolution sees only the loaded snapshot. */
  def overwrite(df: DataFrame, path: String): Unit =
    commit(df.sparkSession, path, "overwrite")(_ => df)
}
