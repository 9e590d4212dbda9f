package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-pointer parquet table IO shared by the batch orchestrator
  * and the streaming upsert sink (SURVEY.md §2.1 S6/S7).
  *
  * Layout: `dir/_current` (one line: the committed version N) plus
  * immutable `dir/v<N>/` parquet directories. A write lands in a FRESH
  * `v<N+1>` directory and commits by atomically renaming a pointer tmp
  * file onto `_current` — the rename IS the transaction. Compared to the
  * earlier delete-then-move swap (whose destructive window needed a
  * `.swap-pending` marker and a recover() pass), this protocol has NO
  * destructive window at all:
  *
  *  - a crash before the pointer flip leaves an uncommitted `v<N+1>`
  *    remnant that no reader can see; the next write clears and rewrites
  *    it — nothing to recover;
  *  - a reader that resolved `_current` reads an immutable directory the
  *    writer never touches again, so a swap running CONCURRENTLY with
  *    reads is safe (gcOldVersions retains the previous version, so even
  *    a reader that resolved just before the flip finishes its scan);
  *  - the streaming MERGE's self-referencing read (read v<N>, write
  *    v<N+1>) no longer needs a tmp-sibling materialization — source and
  *    destination are different directories by construction.
  *
  * Version history doubles as cheap time travel (readVersion) until GC
  * trims it.
  *
  * Two write disciplines share the layout:
  *
  *  - **Lock-serialized** (overwriteSwap / appendInPlace /
  *    appendAsVersion): every commit holds `dir/_writer.lock` (atomic
  *    create-new with a `pid:nonce` token), so a second concurrent
  *    writer FAILS FAST with a clear error instead of silently racing
  *    the pointer; a lock whose owner is verifiably dead (or older than
  *    [[LockStaleMs]]) is a crashed writer's remnant and stolen. The
  *    orchestrator's paths — one pipeline, one writer per table.
  *  - **Optimistic multi-writer** (overwriteConcurrent /
  *    transformConcurrent): true concurrent commits with NO lock. A
  *    writer stages into `dir/.staging-<pid>-<nonce>`, drops a
  *    `_GRAFT_COMMITTED` marker INSIDE the staging dir, then claims
  *    version N+1 by `ATOMIC_MOVE(staging, v<N+1>)` — the rename is the
  *    CAS: the filesystem namespace hands each version number to
  *    exactly one writer, and the moved directory appears fully formed,
  *    marker included. Readers resolve the committed version as
  *    max(pointer, highest marker-carrying `v<N>`), so a stale pointer
  *    can never hide a CAS commit; the winner then advances the pointer
  *    monotonically as a best-effort cache. `transformConcurrent` is
  *    the read-modify-write form: it claims EXACTLY base+1, so losing
  *    the claim proves somebody committed on top of the base it read —
  *    it re-reads and recomputes (serializable rebase), the same
  *    optimistic-concurrency shape Delta Lake commits use (public
  *    PROTOCOL.md), built from nothing but POSIX rename atomicity.
  *
  * Mixing both disciplines on one table is safe for readers (resolve
  * covers both commit markers) but writers should pick one per table:
  * the locked paths assume they own the version sequence between
  * acquire and release.
  */
object ParquetIO {

  /** A `_writer.lock` whose owner pid cannot be verified dead is still
    * presumed abandoned past this age and stolen by the next commit —
    * the fallback for pid-unreadable locks (partially-written file,
    * foreign host).
    */
  val LockStaleMs = 600000L

  /** Atomically materialize `lock` ALREADY CARRYING a fresh `pid:nonce`
    * ownership token, or return None if it exists. The token is written
    * to a uniquely-named sibling first and hard-LINKED into place
    * (create-new semantics + content in one atomic step), so a crash can
    * never leave a token-less lock that blocks every later writer for
    * the full [[LockStaleMs]] despite its holder being dead. Filesystems
    * without hard links fall back to create-new + write (token-less
    * window shrinks to two syscalls; the age heuristic still bounds it).
    */
  private[graft] def tryLockFile(lock: Path): Option[String] = {
    val token = s"${ProcessHandle.current().pid()}:${System.nanoTime()}"
    val tmp = lock.resolveSibling(
      s"${lock.getFileName}.${token.replace(':', '_')}.tmp")
    Files.writeString(tmp, token)
    try { Files.createLink(lock, tmp); Some(token) }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => None
      case _: UnsupportedOperationException | _: java.io.IOException =>
        try { Files.createFile(lock); Files.writeString(lock, token); Some(token) }
        catch { case _: java.nio.file.FileAlreadyExistsException => None }
    } finally Files.deleteIfExists(tmp)
  }

  /** True iff the lock's recorded owner pid is verifiably dead on THIS
    * host. Unreadable/foreign owners report false — callers fall back
    * to the [[LockStaleMs]] age heuristic via [[lockAgeMs]].
    */
  private[graft] def lockOwnerDead(lock: Path): Boolean =
    try {
      val pid = Files.readString(lock).trim.split(":")(0).toLong
      val oh = ProcessHandle.of(pid)
      !(oh.isPresent && oh.get().isAlive)
    } catch { case _: Exception => false }

  /** Age of the lock file; 0 (treat as live) if it vanished mid-check. */
  private[graft] def lockAgeMs(lock: Path): Long =
    try System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
    catch { case _: java.io.IOException => 0L }

  /** Delete the lock only if it still carries OUR token — a stealer's
    * lock is never clobbered by the writer it stole from.
    */
  private[graft] def releaseLockIfMine(lock: Path, token: String): Unit = {
    val mine = try Files.readString(lock).trim == token
               catch { case _: Exception => false }
    if (mine) Files.deleteIfExists(lock)
  }

  /** Serialize commits on `dir`: atomic token-carrying create of
    * `_writer.lock` ([[tryLockFile]]), fail-fast (not wait) on a LIVE
    * concurrent holder — the caller is violating the single-writer
    * contract and should know immediately. A lock whose recorded pid is
    * verifiably dead is a crashed writer's remnant and is stolen AT
    * ONCE (restoring the protocol's zero-wait crash recovery); an
    * unreadable-owner lock falls back to the [[LockStaleMs]] age
    * heuristic. Release deletes the lock only if it still carries OUR
    * token ([[releaseLockIfMine]]).
    */
  private def withWriterLock[T](dir: String)(body: => T): T = {
    Files.createDirectories(Paths.get(dir))
    val lock = Paths.get(dir, "_writer.lock")
    def acquire(retrySteal: Boolean): String =
      tryLockFile(lock).getOrElse {
        val age = lockAgeMs(lock)
        if (retrySteal && (lockOwnerDead(lock) || age > LockStaleMs)) {
          Files.deleteIfExists(lock)
          acquire(retrySteal = false) // a racing stealer wins cleanly: we fail fast
        } else throw new IllegalStateException(
          s"concurrent writer on $dir: _writer.lock held (age ${age} ms) — " +
            "the versioned-pointer protocol is single-writer; serialize commits")
      }
    val token = acquire(retrySteal = true)
    try body finally releaseLockIfMine(lock, token)
  }

  /** How many PREVIOUS committed versions survive GC (in addition to the
    * current one). 1 = an in-flight reader that resolved the pointer
    * just before a flip can still finish; bump for longer time travel.
    */
  val GcRetain = 1

  private def currentFile(dir: String): Path = Paths.get(dir, "_current")

  def versionPath(dir: String, v: Long): String =
    Paths.get(dir, s"v$v").toString

  /** The pointer-committed version, if recorded. With concurrent (CAS)
    * writers the pointer is a monotone best-effort cache — readers
    * should resolve through [[resolveVersion]], which also covers
    * marker-committed versions the pointer hasn't caught up to.
    */
  def currentVersion(dir: String): Option[Long] =
    if (Files.exists(currentFile(dir)))
      Some(Files.readString(currentFile(dir)).trim.toLong)
    else None

  /** Name of the commit marker a CAS writer stages INSIDE its version
    * directory before the atomic claim — `_`-prefixed so every parquet
    * reader (Spark, DuckDB, pyarrow) ignores it as a non-data file.
    */
  private val CommittedMarker = "_GRAFT_COMMITTED"

  private def hasMarker(dir: String, v: Long): Boolean =
    Files.exists(Paths.get(versionPath(dir, v), CommittedMarker))

  /** The authoritative committed version: max of the pointer and the
    * highest marker-carrying version directory. A lock-serialized
    * commit is visible via the pointer; a CAS commit is visible the
    * instant its directory move lands, pointer lag notwithstanding.
    */
  def resolveVersion(dir: String): Option[Long] = {
    val marked = versionsOnDisk(dir).filter(hasMarker(dir, _))
    (currentVersion(dir).toSeq ++ marked).maxOption
  }

  def exists(dir: String): Boolean =
    resolveVersion(dir).isDefined ||
      Files.exists(Paths.get(dir, "_SUCCESS")) // pre-versioning layout

  def read(spark: SparkSession, dir: String): DataFrame =
    resolveVersion(dir) match {
      case Some(v) => spark.read.parquet(versionPath(dir, v))
      case None    => spark.read.parquet(dir) // plain/legacy directory
    }

  /** Read a specific retained version — time travel until GC trims it. */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    spark.read.parquet(versionPath(dir, v))

  /** Read the committed version with parquet schema merging — the read
    * for versions holding MIXED-schema files, which [[appendAsVersion]]
    * produces when a schema-evolved writer appends (the new batch
    * carries added columns; the hard-linked history keeps the old
    * footprint, and merged reads surface the union schema with nulls
    * for what old files lack). Costs one footer read per file at plan
    * time, so the plain [[read]] stays the default for single-schema
    * tables; a 100 TB evolved table would amortize this through a
    * committed schema artifact, which GcRetain-deep history makes a
    * cheap future step.
    */
  def readMerged(spark: SparkSession, dir: String): DataFrame = {
    val rd = spark.read.option("mergeSchema", "true")
    resolveVersion(dir) match {
      case Some(v) => rd.parquet(versionPath(dir, v))
      case None    => rd.parquet(dir)
    }
  }

  /** Committed versions currently on disk, ascending. */
  def versionsOnDisk(dir: String): Seq[Long] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val st = Files.list(d)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
        .toSeq.sorted
      finally st.close() // a leaked stream per micro-batch exhausts fds
    }
  }

  /** Append-only load into the CURRENT committed version — the RAW
    * layer's contract (later batches add files next to the history,
    * O(batch) per run, never an O(history) rewrite). The version
    * directory stays the pointer's resolve target, so readers see the
    * new batch exactly when the parquet job commits — the same
    * guarantee the flat layout gave appends. First load commits v1.
    */
  def appendInPlace(df: DataFrame, dir: String): Unit = withWriterLock(dir) {
    resolveVersion(dir) match {
      case Some(v) => df.write.mode("append").parquet(versionPath(dir, v))
      case None if Files.exists(Paths.get(dir, "_SUCCESS")) =>
        // pre-versioning flat table: append beside the existing files
        // (routing to overwriteSwap here would commit a v1 holding ONLY
        // the new batch and silently hide all prior history from read())
        df.write.mode("append").parquet(dir)
      case None => swapLocked(df, dir) // lock already held — not overwriteSwap
    }
  }

  def overwriteSwap(df: DataFrame, dir: String): Unit =
    withWriterLock(dir) { swapLocked(df, dir) }

  /** CRASH-SAFE append: the batch lands in a FRESH `v<N+1>` directory,
    * the previous version's data files are hard-linked in beside it
    * (O(delta) I/O — links share inodes; copy fallback for filesystems
    * without link support), and the pointer flip commits both at once.
    * Unlike [[appendInPlace]] (which trades crash atomicity for the RAW
    * layer's zero-rewrite contract), a crash mid-append here leaves an
    * uncommitted remnant no reader can see, and the retry rebuilds it
    * cleanly — the same guarantee overwriteSwap gives, at append cost.
    * GC keeps the retained window; shared inodes survive until every
    * linking version is collected.
    */
  def appendAsVersion(df: DataFrame, dir: String): Unit = withWriterLock(dir) {
    resolveVersion(dir) match {
      case None => swapLocked(df, dir)
      case Some(v) =>
        val next = v + 1
        val nextP = Paths.get(versionPath(dir, next))
        deleteRecursive(nextP) // a crashed previous attempt is invisible
        df.write.mode("overwrite").parquet(nextP.toString)
        val curP = Paths.get(versionPath(dir, v))
        val st = Files.list(curP)
        try st.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".") // data files only
          }
          .foreach { p =>
            val dst = nextP.resolve(s"prev${v}_${p.getFileName}")
            try Files.createLink(dst, p)
            catch { case _: UnsupportedOperationException | _: java.io.IOException =>
              Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
            }
          }
        finally st.close()
        // rebase deletion vectors: the carried files were linked in as
        // prev<v>_<name>, so vectors targeting v keep applying under
        // the rewritten names at v+1 — deletes survive the O(delta)
        // append without materializing (the new batch has no vectors)
        if (exists(deletesDir(dir))) {
          import org.apache.spark.sql.functions.{col, concat, lit}
          val spark = df.sparkSession
          val rebased = read(spark, deletesDir(dir))
            .filter(col("target_version") === v)
            .select(lit(next).as("target_version"),
              concat(lit(s"prev${v}_"), col("file_name")).as("file_name"),
              col("row_index"))
          // the _deletes side table has its own writer lock (a distinct
          // dir), so this nested append cannot deadlock the data lock
          if (!rebased.isEmpty) appendInPlace(rebased, deletesDir(dir))
        }
        val tmp = Paths.get(dir, "_current.tmp")
        Files.writeString(tmp, next.toString)
        Files.move(tmp, currentFile(dir),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        gcOldVersions(dir, next)
    }
  }

  private def swapLocked(df: DataFrame, dir: String): Unit = {
    val cur = resolveVersion(dir)
    val next = cur.getOrElse(0L) + 1
    // an uncommitted remnant of a crashed previous attempt is invisible
    // to readers — clear and rewrite
    deleteRecursive(Paths.get(versionPath(dir, next)))
    df.write.mode("overwrite").parquet(versionPath(dir, next))
    // THE commit: pointer tmp + atomic rename. Readers see cur -> next
    // with no intermediate state.
    val tmp = Paths.get(dir, "_current.tmp")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, currentFile(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    gcOldVersions(dir, next)
  }

  /** Drop committed versions older than (resolved - GcRetain), any
    * uncommitted directories ABOVE the resolved version left by crashed
    * lock-serialized writers (a marker-carrying directory above the
    * caller's version is a CAS commit that landed mid-listing — never
    * touched), and abandoned `.staging-*` remnants of crashed CAS
    * writers past [[LockStaleMs]]. Never touches the resolved version
    * or the retained window, so concurrent readers of those are safe.
    */
  private def gcOldVersions(dir: String, current: Long): Unit = {
    val resolved = math.max(current, resolveVersion(dir).getOrElse(current))
    versionsOnDisk(dir).foreach { v =>
      if (v < resolved - GcRetain || (v > resolved && !hasMarker(dir, v)))
        deleteRecursive(Paths.get(versionPath(dir, v)))
    }
    val d = Paths.get(dir)
    if (Files.isDirectory(d)) {
      val st = Files.list(d)
      try st.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(".staging-") &&
          lockAgeMs(p) > LockStaleMs)
        .foreach(deleteRecursive)
      finally st.close()
    }
  }

  /** Concurrent-GC-tolerant: two committers may race to collect the
    * same expired version; the loser's vanished-file errors mean the
    * directory is going away either way.
    */
  private def deleteRecursive(p: Path): Unit =
    try deleteTree(p)
    catch {
      case _: java.io.UncheckedIOException | _: java.io.IOException => ()
    }

  /** Deletes `p` and everything under it, children first; a missing
    * `p` is a no-op. Closes its directory walk.
    */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  // ------------------------------------------------------------------
  // Optimistic multi-writer commits (CAS on the version namespace)
  // ------------------------------------------------------------------

  private def newStaging(dir: String): Path = Paths.get(
    dir, s".staging-${ProcessHandle.current().pid()}-${System.nanoTime()}")

  /** Stage `df` + marker, then claim `v<target>` by atomic rename.
    * Returns false on a lost claim (another writer owns that version);
    * the staged directory is removed either way on failure paths.
    */
  private def stageAndClaim(df: DataFrame, dir: String, target: Long): Boolean = {
    val staging = newStaging(dir)
    var claimed = false
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      Files.createFile(staging.resolve(CommittedMarker))
      claimed = claimMove(staging, Paths.get(versionPath(dir, target)))
      claimed
    } finally if (!claimed) deleteRecursive(staging)
  }

  /** The CAS itself: rename the staged directory onto the version slot.
    * False = the slot is taken (the JDK surfaces ENOTEMPTY/EEXIST
    * variously as FileAlreadyExists / DirectoryNotEmpty / a bare
    * FileSystemException depending on the provider path, so the whole
    * FileSystemException family reads as a lost claim — a genuine I/O
    * fault then exhausts the caller's bounded retries and surfaces
    * there rather than being silently swallowed).
    */
  private def claimMove(staging: Path, target: Path): Boolean =
    try {
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case _: java.nio.file.FileSystemException => false }

  /** Advance the pointer cache to `v` if it is behind. Interleaved
    * advances can transiently regress the pointer (read-then-rename is
    * not atomic); harmless — [[resolveVersion]] takes the max over
    * commit markers, and the next advance heals it.
    */
  private def advancePointer(dir: String, v: Long): Unit =
    if (currentVersion(dir).forall(_ < v)) {
      val tmp = Paths.get(dir,
        s"_current.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      Files.writeString(tmp, v.toString)
      Files.move(tmp, currentFile(dir),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Blind overwrite from a concurrent writer: LAST CLAIM WINS. The
    * data is written once; only the claim is retried, against the next
    * free version number. Safe under any number of concurrent callers.
    */
  def overwriteConcurrent(df: DataFrame, dir: String): Long = {
    Files.createDirectories(Paths.get(dir))
    val staging = newStaging(dir)
    var ok = false
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      Files.createFile(staging.resolve(CommittedMarker))
      var v = resolveVersion(dir).getOrElse(0L) + 1
      while (!ok) {
        ok = claimMove(staging, Paths.get(versionPath(dir, v)))
        if (!ok) v = math.max(v + 1, resolveVersion(dir).getOrElse(0L) + 1)
      }
      advancePointer(dir, v)
      gcOldVersions(dir, v)
      v
    } finally if (!ok) deleteRecursive(staging)
  }

  /** True serializable read-modify-write under concurrency: read the
    * committed base, apply `f` (None = table doesn't exist yet), claim
    * EXACTLY base+1. Losing the claim proves another writer committed
    * on top of the base we read — re-read and recompute (rebase), up to
    * `maxAttempts`. Any set of concurrent transforms therefore applies
    * in SOME serial order with none lost — MERGE/upsert semantics from
    * many pipelines at once, the gap the lock-serialized paths fail
    * fast on.
    *
    * The base read is lazy (Spark scans at write time); if ≥2 rivals
    * commit while `f`'s job runs, GC can collect the base mid-scan —
    * surfacing as a missing-file failure, which is a lost race, not an
    * error: it rebases like a lost claim.
    */
  def transformConcurrent(spark: SparkSession, dir: String, maxAttempts: Int = 12)
      (f: Option[DataFrame] => DataFrame): Long = {
    Files.createDirectories(Paths.get(dir))
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = resolveVersion(dir)
      val target = base.getOrElse(0L) + 1
      val claimed =
        // the base handed to `f` is the MoR view: a read-modify-write on
        // a vector-carrying table must see the logical content, and its
        // full-replacement commit materializes the deletes
        try stageAndClaim(f(base.map(readVersionMoR(spark, dir, _))), dir, target)
        catch {
          case e: Exception if isMissingFileRace(e) && attempt < maxAttempts - 1 =>
            false // base GC'd under our lazy scan: rebase
        }
      if (claimed) {
        advancePointer(dir, target)
        gcOldVersions(dir, target)
        return target
      }
      attempt += 1
      Thread.sleep(25L * attempt)
    }
    throw new IllegalStateException(
      s"transformConcurrent on $dir: lost the version claim $maxAttempts times — " +
        "contention too high; back off at the caller")
  }

  /** Outcome of one [[compact]] run. `versionAfter == versionBefore`
    * means the table was already within budget and nothing was
    * rewritten (the no-op fast path a scheduled maintenance job hits
    * most of the time).
    */
  final case class CompactionStats(
      versionBefore: Long, versionAfter: Long,
      filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, bytesAfter: Long)

  private def dataFiles(vp: Path): Seq[(Path, Long)] = {
    val st = Files.list(vp)
    try st.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(p => p -> Files.size(p)).toSeq
    finally st.close()
  }

  /** Total data bytes of the committed version — what a maintenance
    * scheduler sizes compaction targets from.
    */
  def tableBytes(dir: String): Long =
    resolveVersion(dir)
      .map(v => dataFiles(Paths.get(versionPath(dir, v))).map(_._2).sum)
      .getOrElse(0L)

  /** Data file count of the committed version. */
  def tableFileCount(dir: String): Int =
    resolveVersion(dir)
      .map(v => dataFiles(Paths.get(versionPath(dir, v))).size)
      .getOrElse(0)

  /** Small-file compaction — the OPTIMIZE-style maintenance rewrite a
    * streaming/appending table needs at scale (each micro-batch lands
    * O(partitions) small files; a year of them makes every scan pay
    * per-file open + footer costs and starves the scheduler with
    * million-task stages). Bin-packs the CURRENT version into
    * ⌈bytes/targetBytes⌉ files via `coalesce` — a shuffle-FREE narrow
    * merge of input splits (repartition would pay a full shuffle of the
    * table for no correctness gain; compaction has no key to place by,
    * and `clusterBy` below covers clustering), committed
    * with the claim-exact-base+1 CAS so a concurrent writer's commit is
    * never clobbered: lose the claim → re-snapshot → recompact the NEW
    * current (or no-op out).
    * Readers mid-scan on the old version finish under the GC retain
    * window. Content is byte-for-byte the same rows — oracle-carried by
    * q169's order-free checksum.
    *
    * `clusterBy` non-empty = the OPTIMIZE ZORDER shape (q138 computes
    * the layout math relationally; this executes it): rows are
    * range-partitioned and sorted on the given columns (pass a
    * precomputed Morton/z column for multi-dimensional locality), so
    * each output file owns a DISJOINT key range and its parquet footer
    * min/max stats prune range predicates — the one compaction variant
    * that buys a shuffle, because data-skipping at read time is what
    * it purchases. Clustering always rewrites (no file-count no-op):
    * the caller is asserting layout, not just size.
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20, maxAttempts: Int = 12,
      clusterBy: Seq[String] = Nil): CompactionStats = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = resolveVersion(dir).getOrElse(throw new IllegalStateException(
        s"compact($dir): no committed version"))
      val before = dataFiles(Paths.get(versionPath(dir, base)))
      val bytes = before.map(_._2).sum
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (clusterBy.isEmpty && before.size <= n) // within budget: no-op fast path
        return CompactionStats(base, base, before.size, before.size, bytes, bytes)
      val cols = clusterBy.map(org.apache.spark.sql.functions.col)
      def rewritten = {
        // through the MoR view: a compaction of a vector-carrying table
        // MATERIALIZES the deletes (the new version's files are fresh,
        // so the old vectors stop applying — and must not be needed)
        val cur = readVersionMoR(spark, dir, base)
        if (clusterBy.isEmpty) cur.coalesce(n)
        else cur.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      }
      val claimed =
        try stageAndClaim(rewritten, dir, base + 1)
        catch {
          case e: Exception if isMissingFileRace(e) && attempt < maxAttempts - 1 =>
            false // base GC'd under the rewrite: re-snapshot
        }
      if (claimed) {
        advancePointer(dir, base + 1)
        gcOldVersions(dir, base + 1)
        val after = dataFiles(Paths.get(versionPath(dir, base + 1)))
        return CompactionStats(
          base, base + 1, before.size, after.size, bytes, after.map(_._2).sum)
      }
      attempt += 1 // a rival committed on our base: recompact the new current
      Thread.sleep(25L * attempt)
    }
    throw new IllegalStateException(
      s"compact($dir): lost the version claim $maxAttempts times; retry later")
  }

  /** One retained version's footprint — [[history]]'s row.
    * `commit_time_ms` is the version directory's mtime — the last
    * committed write into that version (in-place appends included).
    * Only the CURRENT version accepts appends, so the times stay
    * monotone with the version sequence on one filesystem.
    */
  final case class VersionInfo(
      version: Long, is_current: Boolean, files: Int, bytes: Long,
      delete_vectors: Long, commit_time_ms: Long)

  /** AS OF TIMESTAMP resolution: the newest retained version committed
    * at or before `tsMs` — Delta's second time-travel axis. None when
    * the table did not exist yet (no retained version is old enough).
    * Pair with [[readVersionMoR]] to read it vector-subtracted.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMs: Long): Option[Long] =
    history(spark, dir).filter(_.commit_time_ms <= tsMs)
      .map(_.version).maxOption

  /** DESCRIBE HISTORY for a versioned table: every retained version
    * with its data-file footprint and the number of deletion-vector
    * positions bound to it — what an operator inspects before time
    * travel, vacuum tuning, or a purge audit. Driver-side listing
    * (O(retained versions), no Spark job) except the per-version
    * vector counts, which read the small `_deletes` side table once.
    */
  def history(spark: SparkSession, dir: String): Seq[VersionInfo] = {
    import org.apache.spark.sql.functions.col
    val cur = resolveVersion(dir)
    val delCounts: Map[Long, Long] =
      if (!exists(deletesDir(dir))) Map.empty
      else read(spark, deletesDir(dir))
        .groupBy(col("target_version")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    versionsOnDisk(dir).filter(v => cur.forall(v <= _)).map { v =>
      val vp = Paths.get(versionPath(dir, v))
      val fs = dataFiles(vp)
      val mtime = try Files.getLastModifiedTime(vp).toMillis
                  catch { case _: java.io.IOException => 0L }
      VersionInfo(v, cur.contains(v), fs.size, fs.map(_._2).sum,
        delCounts.getOrElse(v, 0L), mtime)
    }
  }

  // ------------------------------------------------------------------
  // Deletion vectors (merge-on-read deletes)
  // ------------------------------------------------------------------

  /** Name of the positional-delete side table nested under the data
    * dir — `_`-prefixed so every parquet reader skips it as a non-data
    * path; our own version listing matches only `v\d+`, so GC and
    * resolve never touch it either.
    */
  private def deletesDir(dir: String): String =
    Paths.get(dir, "_deletes").toString

  /** Merge-on-read DELETE — the 100 TB shape: rewriting a 1 GB file to
    * drop 3 rows is how copy-on-write tables die at scale, so instead
    * the matching row POSITIONS (version, file_name, row_index — the
    * parquet `_metadata` columns) are committed to a side table and
    * subtracted at read time by [[readMoR]]. Positions are only valid
    * against the exact version whose files they index, so each vector
    * records the version it targets and readers apply only the current
    * version's vectors — a compaction naturally invalidates (and thus
    * materializes) them, the Delta/Iceberg merge-on-read contract.
    * Appends are O(batch) via [[appendInPlace]]; repeated deletes
    * accumulate. Returns the number of positions written.
    */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val v = resolveVersion(dir).getOrElse(throw new IllegalStateException(
      s"deleteWhere($dir): no committed version"))
    val hits = spark.read.parquet(versionPath(dir, v))
      .filter(predicate)
      .select(
        org.apache.spark.sql.functions.lit(v).as("target_version"),
        col("_metadata.file_name").as("file_name"),
        col("_metadata.row_index").as("row_index"))
    // count once, through a persisted handle, so the write and the
    // returned count see the same rows
    val pinned = hits.persist()
    val n = pinned.count()
    if (n > 0) appendInPlace(pinned, deletesDir(dir))
    pinned.unpersist()
    n
  }

  /** Positions deleted against the CURRENT version (empty frame with
    * the right schema when no vectors exist).
    */
  private def currentDeletes(spark: SparkSession, dir: String,
      v: Long): Option[DataFrame] =
    if (!exists(deletesDir(dir))) None
    else Some(read(spark, deletesDir(dir))
      .filter(org.apache.spark.sql.functions.col("target_version") === v)
      .select("file_name", "row_index"))

  /** Merge-on-read READ: the committed version minus its deletion
    * vectors — one broadcast-able anti-join on (file_name, row_index);
    * the base table is scanned once and no data file is ever rewritten.
    * Falls back to the plain [[read]] when no vectors target the
    * current version (including after a compaction, whose rewrite
    * materialized them).
    */
  def readMoR(spark: SparkSession, dir: String): DataFrame =
    resolveVersion(dir) match {
      case Some(v) => readVersionMoR(spark, dir, v)
      case None    => read(spark, dir)
    }

  /** [[readMoR]] pinned to a version — the vector-subtracted time
    * travel read, and the view every maintenance rewrite and
    * optimistic read-modify-write goes through, so deletion vectors
    * can never resurrect: a rewrite reading this view MATERIALIZES the
    * deletes into the new version. [[purgeWhere]] relies on the
    * per-version vector filter here to hide purged rows from history
    * reads too.
    */
  def readVersionMoR(spark: SparkSession, dir: String, v: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    currentDeletes(spark, dir, v) match {
      case None => readVersion(spark, dir, v)
      case Some(d) =>
        val base = spark.read.parquet(versionPath(dir, v))
        val cols = base.columns.toSeq
        base
          .withColumn("__fn", col("_metadata.file_name"))
          .withColumn("__ri", col("_metadata.row_index"))
          .join(org.apache.spark.sql.functions.broadcast(
            d.withColumnsRenamed(Map("file_name" -> "__fn", "row_index" -> "__ri"))),
            Seq("__fn", "__ri"), "left_anti")
          .select(cols.map(col): _*)
    }
  }

  /** Merge-on-read UPSERT — the O(batch) MERGE: matched keys' current
    * positions become deletion vectors (their rows are superseded) and
    * the batch's rows land as NEW files in the same version
    * ([[appendInPlace]], the zero-rewrite append). [[readMoR]] then
    * serves exactly `base ⟕anti batch ∪ batch` — what a full-rewrite
    * MERGE computes by re-writing the whole table. Cost: one
    * key-pruned scan of the version for positions (broadcast-able
    * batch key set) + O(batch) writes; a year of upserts is then
    * bounded by [[deleteRatio]]-triggered compaction, which
    * materializes the vectors. Repeated upserts compose: later
    * batches' key scans cover earlier batches' appended files too
    * (they live in the same version directory), so the newest image
    * wins. Returns the number of superseded positions.
    *
    * Contract: `batch` must be key-unique (duplicate keys all land and
    * all survive reads — resolve multiplicity upstream, as Delta MERGE
    * requires), and it must NOT lazily read the target table — the
    * append refreshes Spark's cache for the target path, so even a
    * persisted target-derived batch re-evaluates over its own appended
    * rows. Derive the batch from its true upstream source (q15's
    * self-referencing MERGE materializes through a fresh version for
    * exactly this reason).
    */
  def upsertMoR(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    resolveVersion(dir) match {
      case None =>
        overwriteSwap(batch, dir); 0L
      case Some(v) =>
        val keyset = batch.select(keys.map(col): _*).distinct()
        // the hidden _metadata column resolves only against the file
        // scan itself — project the positions BEFORE joining
        val hits = spark.read.parquet(versionPath(dir, v))
          .select(keys.map(col) ++ Seq(
            col("_metadata.file_name").as("file_name"),
            col("_metadata.row_index").as("row_index")): _*)
          .join(broadcast(keyset), keys, "left_semi")
          .select(lit(v).as("target_version"), col("file_name"), col("row_index"))
          .persist()
        val n = hits.count()
        if (n > 0) appendInPlace(hits, deletesDir(dir))
        hits.unpersist()
        appendInPlace(batch, dir)
        n
    }
  }

  /** Right-to-be-forgotten PURGE: record deletion vectors for matching
    * rows in EVERY retained version, so the key disappears from the
    * current read ([[readMoR]]) AND from vector-subtracted time travel
    * ([[readVersionMoR]]) in one O(matches) operation — no version is
    * rewritten. Physical bytes linger inside the retained version
    * files until the next materializing rewrite ([[compact]]) and GC
    * retire them — run `purgeWhere` then `compact` for prompt physical
    * erasure, the same two-step Delta's DELETE + VACUUM performs.
    * Returns total positions recorded across versions.
    */
  def purgeWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val perVersion = versionsOnDisk(dir).map { v =>
      spark.read.parquet(versionPath(dir, v))
        .filter(predicate)
        .select(lit(v).as("target_version"),
          col("_metadata.file_name").as("file_name"),
          col("_metadata.row_index").as("row_index"))
    }
    if (perVersion.isEmpty) 0L
    else {
      val hits = perVersion.reduce(_ unionByName _).persist()
      val n = hits.count()
      if (n > 0) appendInPlace(hits, deletesDir(dir))
      hits.unpersist()
      n
    }
  }

  /** Fraction of the current version's rows carried as delete vectors
    * — the signal a maintenance job uses to decide when merge-on-read
    * should flip to a materializing rewrite (compact() on the [[
    * readMoR]] output), exactly like Delta's DV-to-rewrite threshold.
    */
  def deleteRatio(spark: SparkSession, dir: String): Double =
    resolveVersion(dir).flatMap { v =>
      currentDeletes(spark, dir, v).map { d =>
        val total = read(spark, dir).count()
        // distinct: overlapping deleteWhere predicates may record the
        // same position twice; the anti-join is idempotent to that
        if (total == 0) 0.0 else d.distinct().count().toDouble / total
      }
    }.getOrElse(0.0)

  /** A Spark job failure caused by a version directory GC'd mid-scan
    * (the only self-inflicted failure mode of optimistic readers):
    * walk the cause chain for the missing-input signatures.
    */
  private def isMissingFileRace(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      val m = if (t.getMessage == null) "" else t.getMessage
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
          t.isInstanceOf[java.nio.file.NoSuchFileException] ||
          m.contains("does not exist") || m.contains("FileNotFound") ||
          m.contains("PATH_NOT_FOUND")) return true
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }
}
