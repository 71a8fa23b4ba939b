package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Record-level MERGE sink: file-granular copy-on-write with a versioned
  * manifest — the scale path past [[CoreStore]]'s partition-rewrite upsert.
  *
  * CoreStore reproduces the reference's write unit (rewrite the year
  * partitions a batch touches — fine for its yearly full loads). At 100 TB
  * a trickle of updates against a year holding thousands of files would
  * rewrite all of them; the industry fix (Delta/Iceberg COW, both public
  * OSS designs) is to rewrite only the FILES containing matched keys and
  * commit the new file set atomically through a manifest. Those table
  * formats aren't on this classpath, so this is the same design in
  * miniature:
  *
  *   - `<target>/data/` holds immutable parquet files.
  *   - `<target>/_manifest/v<N>.list` names the live files of version N
  *     (one relative path per line). Readers list the manifest dir, take
  *     the highest N, and read exactly those files — never a raw glob of
  *     data/, so concurrent merges and un-vacuumed garbage are invisible.
  *   - A merge: (1) semi-join updates against the live rows to find the
  *     files holding matched PKs; (2) rewrite ONLY those files, anti-join
  *     dropping the superseded row versions, union the deduped batch;
  *     (3) publish v<N+1> via write-temp + atomic create-if-absent.
  *     Crash before (3) leaves orphan data files (removed by [[vacuum]])
  *     and readers never see a partial commit.
  *   - Multi-writer: optimistic concurrency. Every merge reads one
  *     pinned snapshot version and its commit is a CAS on that version
  *     (create v<N+1> if absent — see [[commit]]); a writer that loses
  *     the race first re-commits its computed result when the rival was
  *     file-disjoint ([[commitWithRebase]]), else gets
  *     ConcurrentModificationException, which [[withOcc]] — the one
  *     replay every verb shares — turns into a recompute against the new
  *     head (`maxRetries`). Delta's optimistic protocol in miniature,
  *     spec'd with two interleaved writers in MergeStoreSpec and
  *     OccRebaseSpec.
  *
  * Scale notes: the affected-file list travels to the driver — it is
  * O(files-with-matches), bounded by the update batch's key spread, not
  * by table size. Write amplification is measured in MergeStoreSpec and
  * recorded in SCALE.md §MERGE.
  */
object MergeStore {

  /** `recomputes` counts lost CAS races resolved by REPLAYING the verb
    * against the new head (the generally-correct resolution);
    * `rebases` counts races resolved by RE-COMMITTING the
    * already-computed result because the rival's commits were provably
    * file-disjoint from this verb's read set ([[rebaseSafe]]) — the
    * probe and rewrite ran exactly once however many rivals interleaved. */
  final case class MergeStats(filesTotal: Int, filesRewritten: Int,
                              rowsInserted: Long, rowsUpdated: Long,
                              rowsDeleted: Long = 0,
                              recomputes: Int = 0, rebases: Int = 0)

  final case class DeleteStats(filesTotal: Int, filesRewritten: Int,
                               rowsDeleted: Long,
                               recomputes: Int = 0, rebases: Int = 0)

  /** Default vacuum grace window (10 min): a data file younger than this
    * is never reclaimed even when no retained manifest references it,
    * because it may belong to an in-flight merge that staged its files
    * but has not yet won the manifest CAS — vacuuming it would let the
    * winning commit reference a vanished file (data loss on read).
    * Delta's `VACUUM ... RETAIN` solves the same race the same way;
    * tests that vacuum their own quiesced tables pass 0. */
  val DefaultVacuumGraceMillis: Long = 10L * 60 * 1000

  private[store] def dataDir(target: String): Path = Paths.get(target, "data")
  private def manifestDir(target: String): Path = Paths.get(target, "_manifest")

  private def currentVersion(target: String): Option[Int] = {
    val dir = manifestDir(target)
    if (!Files.isDirectory(dir)) None
    else {
      val vs = Files.list(dir).iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".list") =>
          s.stripPrefix("v").stripSuffix(".list").toInt
        }.toSeq
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Newest committed version number, if the table exists — the head a
    * change-feed consumer (replication [[sync]], incremental view
    * maintenance) records as its high-water mark. */
  def version(target: String): Option[Int] = currentVersion(target)

  /** Whether `v` is still reconstructable (its manifest or checkpoint
    * is retained) — the time-travel precheck. */
  def versionRetained(target: String, v: Int): Boolean =
    stateOpt(target, v).isDefined

  // ------------------------------------------------------------------
  // Incremental manifests + periodic checkpoints: commit metadata that
  // is O(CHANGES), not O(live files). A full-snapshot manifest per
  // commit rewrites the complete file list plus EVERY per-file stats/
  // nulls/bloom/DV line — at 100 TB (10⁵–10⁶ files × several stats
  // columns) each trickle commit would write tens of MB of metadata
  // and N versions would retain N full copies. The public Delta design
  // (incremental JSON actions + periodic parquet checkpoints; Iceberg
  // reaches the same place with manifest files + a manifest list),
  // expressed in this engine's line format:
  //
  //   - Most commits are DELTA manifests: first line
  //     `#graft.manifest=delta`, then only the CHANGES vs the parent —
  //     `#k=v` metadata set, `~k` metadata unset, `+file` added,
  //     `-file` removed. A trickle merge's manifest holds its few
  //     rewritten files and their fresh stats lines, never the table.
  //   - Every [[DefaultCheckpointInterval]]-th commit (or the table's
  //     `graft.ckpt.interval`; and every fresh v0) is a FULL snapshot,
  //     bounding reconstruction to at most `interval` small reads.
  //   - Readers reconstruct version V by walking back to the nearest
  //     full manifest (or `v<N>.ckpt` sidecar) and folding the deltas
  //     forward; reconstructed states are memo-cached (manifests are
  //     immutable, so the cache can never go stale — the fingerprint
  //     guards pathological path reuse).
  //   - [[vacuum]] materializes the retention FLOOR as a `v<N>.ckpt`
  //     sidecar before dropping older manifests, so time travel inside
  //     the window never loses its reconstruction base.
  //
  // The commit CAS is untouched: a delta manifest publishes through
  // the same write-temp + create-if-absent link as a full one.
  // ------------------------------------------------------------------

  private val DeltaMarkerLine = "#graft.manifest=delta"
  /** Reserved metadata key backing the delta marker line. */
  private[store] val FormatKey = "graft.manifest"

  /** Reserved metadata key stamping the on-disk format version. Like
    * [[TsKey]], [[commit]] writes it on every version, so every full
    * manifest, parquet checkpoint and vacuum `.ckpt` floor carries it;
    * reconstruction refuses a full base without it
    * ([[refuseUnstamped]]). Tables written before the stamp existed
    * used on-disk shapes this engine no longer reads (schema-less
    * manifests, size-less files, count-less deletion-vector lines,
    * mtime-only commit times, inline-parquet manifest slots). */
  private[store] val FormatVersionKey = "graft.format"
  private[store] val FormatVersion = "1"

  /** The one refusal of a table whose reconstruction base carries no
    * format stamp. */
  private def refuseUnstamped(target: String, v: Int): Nothing =
    throw new IllegalStateException(
      s"table at $target predates manifest format $FormatVersion: its " +
        s"v$v reconstruction base carries no '$FormatVersionKey' stamp. " +
        "Pre-stamp tables are not readable by this engine; re-create " +
        "the table from a copy of its rows")

  /** Checkpoint-encoding policy (`graft.ckpt.format` TBLPROPERTY):
    * `parquet` writes interval-th full snapshots and vacuum `.ckpt`
    * floors as parquet checkpoints ([[ParquetCkpt]] — columnar,
    * predicate-readable, Delta's design); unset/`text` keeps the
    * line format (gzipped past the size threshold). Deltas are never
    * parquet — they are already O(changes) bytes and the per-commit
    * encoder must stay a driver-local write. */
  private[store] val CkptFormatKey = "ckpt.format"

  /** Commits between full-snapshot manifests when the table sets no
    * `graft.ckpt.interval` — the reconstruction walk is bounded by
    * this. The measured trade-off behind 16 is recorded in SCALE.md
    * §"INCREMENTAL MANIFESTS + FILE-DISJOINT OCC" (`commit-cost`). */
  private val DefaultCheckpointInterval = 16

  /** Per-table full-snapshot cadence (`graft.ckpt.interval`
    * TBLPROPERTY): a trickle-heavy table can checkpoint less often
    * (cheaper commits, longer walks), a cold-probed one more often.
    * Clamped to ≥ 1 so no recorded value can divide-by-zero the
    * commit path. */
  private def checkpointIntervalFor(meta: Map[String, String]): Int =
    math.max(1, meta.get(CkptIntervalKey).flatMap(_.toIntOption)
      .getOrElse(DefaultCheckpointInterval))

  /** Manifest key behind the `graft.ckpt.interval` TBLPROPERTY. */
  private[store] val CkptIntervalKey = "ckpt.interval"

  // ------------------------------------------------------------------
  // In-commit timestamps (Delta's ICT, a public design): the commit
  // instant rides INSIDE the manifest as a `#graft.ts=<millis>` line
  // stamped by commit() itself — monotonic by construction
  // (max(now, parent_ts + 1)). File mtimes are NOT durable commit
  // state: a backup/restore, an rsync, or an object-store migration
  // rewrites them, silently corrupting TIMESTAMP AS OF and the change
  // feed's _commit_timestamp. [[history]] reads only the in-commit
  // line.
  // ------------------------------------------------------------------

  /** Manifest meta key holding the commit's own timestamp (millis).
    * Stamped by [[commit]] on every version; caller-supplied values
    * are overwritten (the commit is the only authority on its time). */
  private[store] val TsKey = "graft.ts"

  /** (path, size, mtime) -> parsed in-commit ts; manifests are
    * immutable once linked, so entries never go stale. Bounded by a
    * dumb clear past 4096 entries (a history() walk re-fills what it
    * needs; correctness never depends on the cache). */
  private val tsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      java.lang.Long]()

  /** The in-commit timestamp recorded in the manifest at `p` —
    * O(manifest bytes), memoized, no state reconstruction. */
  private def inCommitTs(p: Path): Long = {
    val key = (p.toAbsolutePath.toString, Files.size(p),
      Files.getLastModifiedTime(p).toMillis)
    if (tsCache.size() > 4096) tsCache.clear()
    tsCache.computeIfAbsent(key, _ =>
      readManifestLines(p).collectFirst {
        case l if l.startsWith(s"#$TsKey=") =>
          java.lang.Long.valueOf(l.stripPrefix(s"#$TsKey=").toLong)
      }.getOrElse(throw new IllegalStateException(
        s"manifest $p carries no in-commit timestamp"))).longValue
  }

  private final case class ManifestState(files: Vector[String],
                                         meta: Map[String, String])

  /** Reconstructed-state memo: manifests are immutable once linked, so
    * (path, version) fully determines the state; the (size, mtime)
    * fingerprint of the version's own backing file guards test-style
    * delete-and-recreate path reuse. (The fingerprint deliberately does
    * NOT cover base manifests below a delta — production manifests are
    * immutable; a test that hand-edits a BASE manifest must touch the
    * descendant it re-reads, or go through a fresh table path.)
    *
    * SIZE-weighted, not entry-counted: one reconstructed state of a
    * 10⁵–10⁶-file table is megabytes of strings, so an entry-count
    * bound could pin GBs of driver heap at the stated scale target.
    * The weight is the total line count (files + metadata entries)
    * across cached states, evicting LRU-first past the cap — a few
    * tens of MB of driver-side strings worst case. */
  private object stateCache {
    private val MaxWeightLines = 1L << 18 // 262,144 manifest lines
    private val map =
      new java.util.LinkedHashMap[(String, Int, Long, Long), ManifestState](
        64, 0.75f, true)
    private var weight = 0L
    private def weightOf(s: ManifestState): Long =
      s.files.size.toLong + s.meta.size
    def get(k: (String, Int, Long, Long)): ManifestState =
      map.synchronized(map.get(k))
    def put(k: (String, Int, Long, Long), v: ManifestState): Unit =
      map.synchronized {
        // A single state heavier than the whole budget is never
        // admitted — evicting everything ELSE to make room would
        // thrash every other table's hot state on each access to one
        // huge table, and the huge state still wouldn't fit.
        if (weightOf(v) > MaxWeightLines) {
          val prev = map.remove(k)
          if (prev != null) weight -= weightOf(prev)
        } else {
          val prev = map.put(k, v)
          weight += weightOf(v) - (if (prev == null) 0L else weightOf(prev))
          val it = map.entrySet().iterator()
          while (weight > MaxWeightLines && it.hasNext) {
            val e = it.next()
            if (e.getKey != k) { // never evict the entry just admitted
              weight -= weightOf(e.getValue)
              it.remove()
            }
          }
        }
      }
  }

  private def parseFull(lines: Seq[String], where: String): ManifestState = {
    val meta = Map.newBuilder[String, String]
    val files = Vector.newBuilder[String]
    lines.foreach { l =>
      if (l.isEmpty) ()
      else if (l.startsWith("#")) {
        val kv = l.stripPrefix("#")
        val i = kv.indexOf('=')
        require(i > 0, s"malformed manifest metadata line at $where: $l")
        meta += (kv.take(i) -> kv.drop(i + 1))
      } else files += l
    }
    ManifestState(files.result().sorted, meta.result())
  }

  private def applyManifestDelta(base: ManifestState, lines: Seq[String],
                                 where: String): ManifestState = {
    val removed = Set.newBuilder[String]
    val added = Vector.newBuilder[String]
    var meta = base.meta
    lines.iterator.drop(1).foreach { l => // line 0 is the marker
      if (l.isEmpty) ()
      else if (l.startsWith("#")) {
        val kv = l.stripPrefix("#")
        val i = kv.indexOf('=')
        require(i > 0, s"malformed delta metadata line at $where: $l")
        meta += (kv.take(i) -> kv.drop(i + 1))
      } else if (l.startsWith("~")) meta -= l.stripPrefix("~")
      else if (l.startsWith("+")) added += l.stripPrefix("+")
      else if (l.startsWith("-")) removed += l.stripPrefix("-")
      else sys.error(s"malformed delta manifest line at $where: $l")
    }
    val gone = removed.result()
    ManifestState(
      (base.files.filterNot(gone) ++ added.result()).sorted, meta)
  }

  private def ckptPath(target: String, v: Int): Path =
    manifestDir(target).resolve(s"v$v.ckpt")
  private def listPath(target: String, v: Int): Path =
    manifestDir(target).resolve(s"v$v.list")

  // ------------------------------------------------------------------
  // Compressed full snapshots: delta encoding made ordinary commits
  // O(changes), but every interval-th snapshot and every
  // vacuum `.ckpt` still wrote the COMPLETE file list + stats/bloom/DV
  // lines as plain text — 1.88 MB at 16 K files, extrapolating to
  // tens of MB per checkpoint at 10⁵–10⁶ files (the public Delta
  // design's answer is parquet checkpoints; gzip over the line format
  // gets the same order-of-magnitude byte win without a Spark job on
  // the commit path, and a parquet checkpoint remains the object-store
  // evolution). Snapshots BELOW the threshold stay plain text (small
  // tables keep human-readable, hand-editable manifests; the gzip
  // header costs more than it saves); readers sniff the 0x1f8b magic,
  // so text and gzip snapshots mix freely in one chain. Deltas
  // are never compressed — they are already O(changes) bytes.
  // ------------------------------------------------------------------

  private[store] def compressThreshold: Long =
    java.lang.Long.getLong("graft.manifest.compress.threshold",
      64L * 1024).longValue()

  private def snapshotBytes(text: String): Array[Byte] = {
    val plain = text.getBytes("UTF-8")
    if (plain.length < compressThreshold) plain
    else {
      val bos = new java.io.ByteArrayOutputStream(plain.length / 8 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      bos.toByteArray
    }
  }

  /** Manifest/checkpoint lines, transparently gunzipping compressed
    * snapshots (sniffed by magic bytes — never by name). */
  private def readManifestLines(p: Path): Seq[String] = {
    val bytes = Files.readAllBytes(p)
    val text =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
          (bytes(1) & 0xff) == 0x8b) {
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try new String(gz.readAllBytes(), "UTF-8") finally gz.close()
      } else new String(bytes, "UTF-8")
    if (text.isEmpty) Seq.empty
    else scala.collection.immutable.ArraySeq.unsafeWrapArray(
      text.split("\n", -1))
  }

  /** The checkpoint sidecar (preferred) or manifest backing a version,
    * None when both are gone (vacuumed). */
  private def backingOf(target: String, v: Int): Option[Path] = {
    val ckpt = ckptPath(target, v)
    if (Files.exists(ckpt)) Some(ckpt)
    else Some(listPath(target, v)).filter(Files.exists(_))
  }

  private def cacheKey(target: String, v: Int, backing: Path) =
    (Paths.get(target).toAbsolutePath.normalize.toString, v,
      Files.size(backing), Files.getLastModifiedTime(backing).toMillis)

  /** Reconstructed (files, meta) of a committed version; None when both
    * its manifest and its checkpoint sidecar are gone (vacuumed).
    * ITERATIVE reconstruction (not recursive): the walk back to the
    * nearest full base is normally ≤ the checkpoint interval, but a
    * huge `graft.ckpt.interval` must degrade to a long loop, never a
    * StackOverflowError. Every full base must carry the format stamp —
    * the one check that refuses pre-stamp tables on every path. */
  private def stateOpt(target: String, v: Int): Option[ManifestState] = {
    if (backingOf(target, v).isEmpty) return None
    // Walk back collecting unapplied delta lines until a cached state,
    // a full snapshot, or the v0 floor; then fold forward, oldest first.
    var pending = List.empty[(Int, Seq[String])]
    var cur = v
    var state: ManifestState = null
    while (state == null) {
      val backing = backingOf(target, cur).getOrElse(
        throw new IllegalStateException(
          s"manifest chain broken at $target: v${cur + 1} is a delta but " +
            s"its base v$cur has no manifest and no checkpoint — vacuum " +
            "materializes the retention floor as a .ckpt; a hand-deleted " +
            "manifest needs the table restored from a retained snapshot"))
      val key = cacheKey(target, cur, backing)
      val cached = stateCache.get(key)
      if (cached != null) state = cached
      else {
        val full =
          if (ParquetCkpt.isParquetFile(backing)) {
            // Parquet checkpoints are always FULL snapshots — decode to
            // the identical (files, meta) the text encoding would carry.
            val (fs, m) = ParquetCkpt.readState(backing)
            Some(ManifestState(fs.sorted, m))
          } else {
            val lines = readManifestLines(backing)
            if (backing.getFileName.toString.endsWith(".list") &&
                lines.headOption.contains(DeltaMarkerLine)) {
              // No writer starts a table with a delta: a delta v0 has
              // no base, the shape of a pre-stamp table.
              if (cur <= 0) refuseUnstamped(target, cur)
              pending ::= (cur -> lines)
              cur -= 1
              None
            } else Some(parseFull(lines, s"$target v$cur"))
          }
        full.foreach { st =>
          if (!st.meta.get(FormatVersionKey).contains(FormatVersion))
            refuseUnstamped(target, cur)
          state = st
          stateCache.put(key, st)
        }
      }
    }
    pending.foreach { case (pv, lines) =>
      state = applyManifestDelta(state, lines, s"$target v$pv")
    }
    if (pending.nonEmpty)
      stateCache.put(cacheKey(target, v, backingOf(target, v).get), state)
    Some(state)
  }

  /** Live relative file names of a committed version (newest by default).
    * Old manifests stay readable until [[vacuum]] reclaims their files —
    * cheap time travel for debugging a bad merge. Metadata lines
    * (`#key=value`, see [[manifestMeta]]) are not files. Delta manifests
    * reconstruct through the nearest checkpoint transparently. */
  def liveFiles(target: String, version: Option[Int] = None): Seq[String] =
    version.orElse(currentVersion(target)) match {
      case None => Seq.empty
      case Some(v) => stateOpt(target, v).getOrElse(
        // The raw NoSuchFileException the pre-delta Files.readAllLines
        // path threw — callers catching IOException keep working.
        throw new java.nio.file.NoSuchFileException(
          listPath(target, v).toString)).files
    }

  /** Metadata recorded INSIDE a manifest commit — `#key=value` lines
    * ahead of the file list. State that must advance atomically with a
    * commit (an IVM view's applied source version, a sink's transaction
    * watermark) rides the same create-if-absent CAS write as the file
    * list, so no crash window can separate "data applied" from "marker
    * advanced" — Delta's txnAppId/txnVersion idiom. Empty for versions
    * whose writer attached none, and for vacuumed (missing) manifests. */
  def manifestMeta(target: String,
                   version: Option[Int] = None): Map[String, String] =
    version.orElse(currentVersion(target)) match {
      case None => Map.empty
      case Some(v) => stateOpt(target, v).map(_.meta).getOrElse(Map.empty)
    }

  // ------------------------------------------------------------------
  // Data skipping: per-file column statistics INSIDE the manifest.
  //
  // Layouts.scala gives row-group skipping (parquet min/max), but the
  // reader still lists and opens every live file's footer — at 100 TB
  // (thousands of files, object-store GETs per footer) the planner must
  // prune FILES from the manifest alone, before any storage round-trip.
  // Delta solves this with per-file `stats` in the transaction log,
  // Iceberg with column bounds in its manifests; this is the same
  // design on this engine's manifest: each committed file may carry
  // `#s:<file>:<col>=<tag> <min> <max>` metadata lines, written in the
  // SAME create-if-absent CAS as the file list (stats can never drift
  // from the files they describe), carried forward by reference for
  // files a commit doesn't rewrite, and recomputed only for new files
  // (one column-pruned scan of the BATCH — Delta computes write-time
  // stats the same way; a footer-only pass is the production variant).
  //
  // Which columns: the table's `stats.cols` manifest property, set at
  // [[init]] (defaulting to the range-cluster columns — exactly the
  // ones whose per-file ranges are tight) and carried forward by every
  // verb. Consumers:
  //   - [[scanRange]]: a range/point read plans only overlapping files;
  //   - the merge/delete/applyChanges AFFECTED-FILE PROBE: the batch's
  //     key bounds prune the snapshot scan, so a key-local trickle
  //     merge against a range-clustered table reads O(overlapping
  //     files), never the table.
  // Pruning is always a SUPERSET of the true matches (files without
  // stats for a column stay candidates; NULL rows can never satisfy a
  // key join or range predicate, so all-null files are skippable-safe)
  // — every consumer still applies its exact predicate afterwards.
  //
  // Value encoding: numbers/decimals as plain decimal strings compared
  // via BigDecimal (no double rounding at 2^53+), timestamps as epoch
  // micros, dates as ISO (lexical = chronological), strings URL-encoded
  // (newline/'='-safe in the manifest) and compared as unsigned UTF-8
  // bytes — Spark's binary string ordering, NOT String.compareTo's
  // UTF-16 order, which diverges on supplementary characters and would
  // mis-prune.
  // ------------------------------------------------------------------

  /** Manifest property naming the table's stats columns. */
  private[store] val StatsColsKey = "stats.cols"
  /** Manifest property holding the table schema as Spark's JSON — the
    * Delta/Iceberg move of keeping schema in the LOG, not the files: a
    * reader with a manifest schema plans with ZERO footer round-trips
    * (mergeSchema inference opens every live file — thousands of
    * object-store GETs at 100 TB before the first byte of data), and a
    * file-pruned scan no longer pays a full-manifest footer pass just
    * to learn the column types. Written by every commit from the
    * writer's own DataFrame schema (which IS the table schema,
    * evolution included). */
  private[store] val SchemaKey = "schema"
  private def isStatsKey(k: String): Boolean = k.startsWith("s:")
  private def statsKey(file: String, column: String) = s"s:$file:$column"
  /** File an `s:`/`b:` per-file key describes (file names never
    * contain ':'). */
  private def statsKeyFile(k: String): String = {
    val rest = k.drop(2) // both prefixes are two chars
    rest.take(rest.indexOf(':'))
  }
  /** Column an `s:`/`b:`/`n:` per-file key describes. */
  private def statsKeyCol(k: String): String =
    k.substring(k.lastIndexOf(':') + 1)
  /** Per-file null-count lines `n:<file>:<col>=<nulls> <rows>` — the
    * lakehouse nullCount stat (Delta keeps it per column): IS NOT NULL
    * prunes files whose column is ENTIRELY null (exactly the files
    * min/max stats cannot describe at all), IS NULL prunes files with
    * no nulls. Spark pushes IsNotNull alongside every equality/range
    * filter, so sparse optional columns prune with no user action. */
  private def isNullsKey(k: String): Boolean = k.startsWith("n:")
  private def nullsKey(file: String, column: String) = s"n:$file:$column"

  /** Per-file byte-size lines `z:<file>=<bytes>` — recorded at commit
    * time (O(new files) local stats, right after writeFiles moved them
    * in) so every size consumer — [[compactSmall]]'s small-file tail,
    * `CALL details`' total bytes, the trickle sink's auto-OPTIMIZE
    * trigger — reads the MANIFEST instead of statting the data
    * directory: at 10⁵–10⁶ files on an object store, a per-pass
    * Files.size sweep is one HEAD request per live file (Delta records
    * `size` in its add actions for exactly this reason). Every commit
    * records a line for every live file ([[assembleAndCommit]]). */
  private def isSizeKey(k: String): Boolean = k.startsWith("z:")
  private def sizeKey(file: String) = s"z:$file"

  /** A live file's recorded byte size; a missing line is a damaged
    * manifest, never a reason to stat the data directory. */
  private def recordedSize(target: String, v: Int, f: String,
                           size: Option[Long]): Long =
    size.getOrElse(throw new IllegalStateException(
      s"manifest v$v at $target records no size for live file $f"))

  /** Live files with byte sizes at `version`, straight off the
    * manifest's `z:` lines — zero data-directory stat calls. */
  def fileSizes(target: String, version: Option[Int] = None)
      : Seq[(String, Long)] = {
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    coldSizes(target, v) match {
      case Some(cold) => return cold
      case None => ()
    }
    val meta = manifestMeta(target, Some(v))
    liveFiles(target, Some(v)).map(f =>
      f -> recordedSize(target, v, f,
        meta.get(sizeKey(f)).flatMap(_.toLongOption)))
  }

  // ------------------------------------------------------------------
  // Column mapping: RENAME COLUMN without rewriting a byte (Delta's
  // column-mapping mode / Iceberg's field-id indirection, expressed in
  // names). A renamed field keeps its ON-DISK (physical) column name
  // forever — recorded as `graft.physical` metadata on the field inside
  // the manifest schema — and every reader/writer crosses the boundary
  // exactly once: files are always written with PHYSICAL names, the
  // API always shows LOGICAL names. A table that never renamed has no
  // mapping entries and every helper below is an exact no-op, so the
  // pre-mapping format is the degenerate case, not a second code path.
  // ------------------------------------------------------------------

  /** Field-metadata key holding a column's on-disk name when it
    * differs from the (renamed) logical name. Reserved: user schemas
    * must not set it. */
  private[store] val PhysicalNameKey = "graft.physical"

  private[store] def physicalNameOf(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  /** The schema as the data files spell it: logical names swapped for
    * physical ones (field metadata kept — the parquet reader ignores
    * it, and round-tripping preserves the mapping). */
  private[store] def physicalSchema(
      st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      st.fields.map(f => f.copy(name = physicalNameOf(f))))

  /** physical -> logical, only the fields that actually differ. */
  private[store] def logicalByPhysical(
      st: org.apache.spark.sql.types.StructType): Map[String, String] =
    st.fields.iterator.map(f => physicalNameOf(f) -> f.name)
      .filter(p => p._1 != p._2).toMap

  /** Column-name translation between two versions' schemas, routed
    * through the STABLE physical names: version `v`'s logical name ->
    * version `w`'s logical name, only the names that moved. Lets a
    * span consumer (the CDC source's multi-commit union) align
    * per-commit frames onto one shape across rename commits. */
  private[graft] def renameMapBetween(target: String, v: Int,
                                      w: Int): Map[String, String] = {
    requireSpanReadable(target, v, w)
    val byPhys = manifestSchema(target, w).fields.iterator
      .map(f => physicalNameOf(f) -> f.name).toMap
    manifestSchema(target, v).fields.iterator.flatMap(f =>
      byPhys.get(physicalNameOf(f)).filter(_ != f.name).map(f.name -> _))
      .toMap
  }

  /** [[renameAll]] for package consumers (the CDC span union). */
  private[graft] def renameColumns(df: DataFrame,
                                   m: Map[String, String]): DataFrame =
    renameAll(df, m)

  /** Rename `df`'s columns per `m` in ONE simultaneous projection —
    * a swap (a->b while c->a) must never collide mid-rename, and extra
    * columns (`__file`, DV probe columns) pass through untouched.
    * Aliases inherit the child attribute's metadata, so the mapping
    * survives the rename and plain selects/unions downstream. */
  private def renameAll(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty || !df.columns.exists(m.contains)) df
    else df.select(df.columns.map(c =>
      if (m.contains(c)) col(c).as(m(c)) else col(c)).toIndexedSeq: _*)

  /** Physical-named frame (a file read) -> logical names, per `st`'s
    * mapping. Applied AFTER any `_metadata`-derived probe columns are
    * materialized (the projection is alias-only, so filters above it
    * still push into the scan). */
  private def toLogical(df: DataFrame,
                        st: org.apache.spark.sql.types.StructType)
      : DataFrame =
    renameAll(df, logicalByPhysical(st))

  /** Logical-named frame (verb output) -> physical names for the file
    * write, per `st`'s mapping. Every [[writeFiles]] call site crosses
    * here so a renamed table's new files stay uniform with its carried
    * ones. */
  private def toPhysical(df: DataFrame,
                         st: org.apache.spark.sql.types.StructType)
      : DataFrame =
    renameAll(df,
      st.fields.iterator.map(f => f.name -> physicalNameOf(f))
        .filter(p => p._1 != p._2).toMap)

  /** Carry the table's rename mapping onto the schema a verb is about
    * to RECORD: frames built from user batches (a merge's incoming
    * select, a union) lose field metadata, and a commit recording a
    * mapping-less schema would silently un-map the table — every
    * subsequent read would look up logical names in physically-named
    * files and null-fill the lot. Fields keep the verb's (possibly
    * evolved) types; fields the table schema maps inherit its physical
    * name. */
  /** Align a user batch's column TYPES onto the table's manifest
    * schema: equal types pass through, safe up-casts (INT → BIGINT,
    * FLOAT → DOUBLE — Spark's loss-free store-assignment set) cast,
    * anything else refuses LOUDLY. Without this, a type-drifted
    * producer would commit its own types as the table-wide `#schema=`
    * and every carried file would stop planning (the read schema no
    * longer matches the old parquet footers) — an append that
    * succeeds silently and bricks the table at read time. The SQL
    * route ([[GraftResolution]]: analyzer-aligned writes, explicit
    * casts in the MERGE insert alignment) never reaches the refusal. */
  /** `dt` with every nesting level nullable — the CAST-target form: a
    * cast to a type carrying NOT NULL fields fails analysis outright
    * (CAST_WITHOUT_SUGGESTION), and nullability never changes bytes. */
  private[store] def nullableForm(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullableForm(f.dataType), nullable = true)))
      case at: ArrayType => ArrayType(nullableForm(at.elementType),
        containsNull = true)
      case mt: MapType => MapType(nullableForm(mt.keyType),
        nullableForm(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private def alignBatchTypes(batch: DataFrame,
      table: org.apache.spark.sql.types.StructType,
      verb: String): DataFrame = {
    val byName = table.fields.map(f => f.name -> f.dataType).toMap
    val aligned = batch.schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(want)
            if nullableForm(want) == nullableForm(f.dataType) =>
          col(f.name)
        case Some(want)
            if org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(f.dataType, want) =>
          col(f.name).cast(nullableForm(want)).as(f.name)
        case Some(want) => sys.error(
          s"$verb batch column '${f.name}' is ${f.dataType.sql} but " +
            s"the table records ${want.sql} — a type-drifted " +
            "producer; cast the batch explicitly")
        case None => col(f.name) // evolution-path column
      }
    }
    batch.select(aligned.toIndexedSeq: _*)
  }

  /** The nullability to RECORD for a commit built from a user batch:
    * a column stays nullable if the TABLE already says so (carried
    * files may hold NULLs the batch doesn't — recording the batch's
    * tighter nullability would both mis-declare the data under the
    * planned read and make every mixed-nullability producer look like
    * POLICY DRIFT to [[rebaseSafe]]), and widens to nullable when the
    * batch introduces it. */
  private def unionNullability(batch: org.apache.spark.sql.types.StructType,
      table: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(batch.fields.map { f =>
      table.fields.find(_.name == f.name) match {
        case Some(tf) => f.copy(nullable = f.nullable || tf.nullable)
        case None => f
      }
    })

  /** The SQL-standard fill for a column an INSERT omits: the declared
    * DEFAULT (the recorded schema's CURRENT_DEFAULT metadata — a
    * constant expression the DDL validated) when one exists, else
    * NULL. Spark's analyzer performs this fill on the catalog INSERT
    * route; the MERGE insert clauses ([[GraftResolution]]'s
    * insert-only alignment, [[mergeConditional]]) share this helper so
    * every spelling agrees. */
  private[store] def defaultFill(
      f: org.apache.spark.sql.types.StructField)
      : org.apache.spark.sql.Column =
    if (f.metadata.contains("CURRENT_DEFAULT"))
      expr(f.metadata.getString("CURRENT_DEFAULT"))
    else lit(null)

  /** Field-metadata keys that are table POLICY carried by reference
    * onto every verb's recorded schema (the batch never speaks them):
    * the column-mapping physical name, and Spark's column-default
    * keys (CURRENT_DEFAULT fills omitted INSERT columns at analysis;
    * dropping it on the next merge would silently retire a declared
    * DEFAULT). */
  private val CarriedFieldMetaKeys: Seq[String] =
    Seq(PhysicalNameKey, "CURRENT_DEFAULT", "EXISTS_DEFAULT")

  private def withMapping(st: org.apache.spark.sql.types.StructType,
                          table: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val carry: Map[String, Seq[(String, String)]] =
      table.fields.iterator.map { f =>
        f.name -> CarriedFieldMetaKeys.flatMap(k =>
          if (f.metadata.contains(k)) Seq(k -> f.metadata.getString(k))
          else Nil)
      }.filter(_._2.nonEmpty).toMap
    if (carry.isEmpty) st
    else org.apache.spark.sql.types.StructType(st.fields.map { f =>
      carry.get(f.name) match {
        case Some(kvs) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          kvs.foreach { case (k, v) => mb.putString(k, v) }
          f.copy(metadata = mb.build())
        case None => f
      }
    })
  }

  /** [[manifestMeta]] minus the engine's reserved data-skipping keys
    * (`s:*` per-file stats, `stats.cols`, `schema`) — the metadata a
    * CONSUMER attached (its progress markers), which is what callers
    * comparing "my metadata landed" want to see. */
  def userManifestMeta(target: String,
                       version: Option[Int] = None): Map[String, String] =
    manifestMeta(target, version).filterNot { case (k, _) =>
      k == StatsColsKey || k == SchemaKey || k == BloomColsKey ||
        k == BloomFppKey || k == TsKey || k == FormatVersionKey ||
        k == CkptFormatKey || k == CkptIntervalKey || isStatsKey(k) ||
        isBloomKey(k) || isNullsKey(k) || isSizeKey(k)
    }

  /** The table's stats columns at a version (empty = no stats kept —
    * tables init'd without clustering). */
  def statsColumns(target: String, version: Option[Int] = None): Seq[String] =
    manifestMeta(target, version).get(StatsColsKey)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private def tagOf(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType => Some("n")
      case StringType => Some("s")
      case DateType => Some("d")
      case TimestampType => Some("t")
      case _ => None // arrays/structs/binary: no stats, never pruned
    }
  }

  /** Stats-agg input for a column: timestamps collapse to epoch micros
    * so stored values and probe bounds share one numeric domain. */
  private def statInput(name: String,
                        dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(name))
      case _ => col(name)
    }

  private def encodeStatValue(tag: String, v: Any): Option[String] =
    rawStatValue(v).map { s =>
      if (tag == "s") java.net.URLEncoder.encode(s, "UTF-8")
      else s // n: decimal text; d: ISO; t: micros
    }

  /** Raw (decoded) text of a stats value or bound. Non-finite floats
    * (NaN AND ±Infinity) contribute nothing: NaN is unorderable, and
    * "Infinity" does not parse as the BigDecimal the numeric tag
    * compares with — a file whose min/max touches either simply keeps
    * no stats line and stays a scan candidate, and a non-finite probe
    * bound leaves its side unbounded (a superset), instead of planting
    * a NumberFormatException in a pruneFiles walk. */
  private def rawStatValue(v: Any): Option[String] = v match {
    case null => None
    case d: Double if !java.lang.Double.isFinite(d) => None
    case f: Float if !java.lang.Float.isFinite(f) => None
    case _ => Some(v.toString)
  }

  /** Raw (decoded) bound text for a caller-supplied scan bound; None
    * (an unbounded side) for a bound [[rawStatValue]] rejects. */
  private def rawBound(tag: String, v: Any): Option[String] =
    rawStatValue(v).map(text => (tag, v) match {
      case ("t", ts: java.sql.Timestamp) =>
        (ts.getTime / 1000 * 1000000L + ts.getNanos / 1000).toString
      case ("t", i: java.time.Instant) =>
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case _ => text
    })

  /** a < b under the tag's ordering (decoded raw operands). */
  private def statLt(tag: String, a: String, b: String): Boolean = tag match {
    case "n" | "t" =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0
    case _ => // "s"/"d": unsigned UTF-8 byte order = Spark's binary order
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
  }

  /** Per-file decoded stats of a version:
    * file -> col -> (tag, min, max). */
  private def fileStatsOf(target: String, version: Int):
      Map[String, Map[String, (String, String, String)]] =
    manifestMeta(target, Some(version)).iterator
      .filter { case (k, _) => isStatsKey(k) }
      .flatMap { case (k, v) =>
        val rest = k.stripPrefix("s:")
        val file = statsKeyFile(k)
        val column = rest.drop(file.length + 1)
        v.split(" ", 3) match {
          case Array(tag, mn, mx) =>
            val dec = (x: String) =>
              if (tag == "s") java.net.URLDecoder.decode(x, "UTF-8") else x
            Some(file -> (column -> (tag, dec(mn), dec(mx))))
          case _ => None // malformed line: file stays a candidate
        }
      }.toSeq.groupBy(_._1)
      .map { case (f, kvs) => f -> kvs.map(_._2).toMap }

  /** Per-file null-count stats of a version:
    * file -> col -> (nulls, rows). */
  private def fileNullsOf(target: String, version: Int)
      : Map[String, Map[String, (Long, Long)]] =
    manifestMeta(target, Some(version)).iterator
      .filter { case (k, _) => isNullsKey(k) }
      .flatMap { case (k, v) =>
        v.split(" ", 2) match {
          case Array(n, r) =>
            try Some(statsKeyFile(k) ->
              (statsKeyCol(k) -> (n.toLong, r.toLong)))
            catch { case _: NumberFormatException => None }
          case _ => None // malformed line: file stays a candidate
        }
      }.toSeq.groupBy(_._1)
      .map { case (f, kvs) => f -> kvs.map(_._2).toMap }

  /** Exact row count from the manifest alone — `COUNT(*)` with zero
    * data-file IO. Every `n:` line carries its file's row count, so a
    * table whose every live file has one answers from metadata; files
    * with deletion vectors subtract the position count their `dv:`
    * line records. None when the table keeps no stats columns (no `n:`
    * lines): the caller falls back to a scan. At 100 TB this is the
    * difference between a catalog lookup and a job. */
  def rowCount(spark: SparkSession, target: String,
               version: Option[Int] = None): Option[Long] = {
    val v = version.orElse(currentVersion(target))
      .getOrElse(return None)
    val files = liveFiles(target, Some(v))
    if (files.isEmpty) return Some(0L)
    val nulls = fileNullsOf(target, v)
    val perFile = files.map(f =>
      nulls.get(f).flatMap(_.values.headOption).map(_._2))
    if (perFile.exists(_.isEmpty)) return None // stats-less: scan instead
    // Sidecars are disjoint per file and each new sidecar SUPERSEDES
    // with the union of positions, so the per-file recorded counts sum
    // to exactly the buried total — COUNT(*) under MOR deletes is a
    // pure catalog lookup, zero jobs. (toSeq BEFORE summing: summing a
    // value SET would collapse files that happen to share a count.)
    Some(perFile.flatten.sum - dvCounts(target, Some(v)).values.toSeq.sum)
  }

  /** Nullness constraints of resolved filter conjuncts:
    * `(col, wantNull)` for every top-level IS NULL / IS NOT NULL on a
    * bare column. Spark pushes IsNotNull alongside every equality and
    * range filter, so this fires on ordinary predicates for free. */
  private[store] def nullnessOfExpressions(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    exprs.flatMap(conjuncts).flatMap {
      case ce.IsNull(a: ce.AttributeReference) => Some(a.name -> true)
      case ce.IsNotNull(a: ce.AttributeReference) => Some(a.name -> false)
      case _ => None
    }
  }

  /** Prune by null-count lines: IS NOT NULL drops files whose stats
    * column is ENTIRELY null (rows > 0, nulls == rows — the files
    * min/max lines cannot describe at all), IS NULL drops files with
    * zero nulls. Missing/malformed lines keep the file a candidate —
    * the usual guaranteed-superset contract. */
  private def pruneByNullness(target: String, version: Int,
                              files: Seq[String],
                              wants: Seq[(String, Boolean)]): Seq[String] = {
    if (wants.isEmpty || files.isEmpty) return files
    val sCols = statsColumns(target, Some(version))
    val applicable = wants.filter { case (c, _) => sCols.contains(c) }
    if (applicable.isEmpty) return files
    val nulls = fileNullsOf(target, version)
    files.filter { f =>
      val fs = nulls.getOrElse(f, Map.empty)
      applicable.forall { case (c, wantNull) =>
        fs.get(c) match {
          case Some((n, rows)) =>
            if (wantNull) n > 0L || rows == 0L
            else n < rows || rows == 0L
          case None => true
        }
      }
    }
  }

  /** Files of `version` that may hold rows with `bounds`-overlapping
    * values on EVERY bounded column (a file disjoint on ANY column
    * cannot hold a conjunctive match). `bounds`: col -> (tag, lo, hi),
    * raw decoded text, None = unbounded side. Files lacking stats for
    * a bounded column stay candidates. */
  private def pruneFiles(files: Seq[String],
                         stats: Map[String, Map[String, (String, String, String)]],
                         bounds: Map[String, (String, Option[String], Option[String])])
      : Seq[String] =
    if (bounds.isEmpty) files
    else files.filter { f =>
      val fs = stats.getOrElse(f, Map.empty)
      bounds.forall { case (c, (tag, lo, hi)) =>
        fs.get(c) match {
          case Some((stag, mn, mx)) if stag == tag =>
            !(hi.exists(h => statLt(tag, h, mn)) ||
              lo.exists(l => statLt(tag, mx, l)))
          case _ => true // no/foreign stats: candidate
        }
      }
    }

  /** Compute per-file stats for freshly written `files` — one
    * column-pruned Spark scan of JUST those files (O(batch), the
    * write-time stats pass). Returns file -> stats-meta entries. */
  private def computeFileStats(spark: SparkSession, target: String,
                               files: Seq[String], sCols: Seq[String],
                               renames: Map[String, String] = Map.empty)
      : Map[String, String] = {
    if (files.isEmpty || sCols.isEmpty) return Map.empty
    // Fresh files spell renamed columns physically; stats lines key by
    // LOGICAL name (the rename verb rewrites carried lines to match).
    val df = renameAll(spark.read.parquet(
      files.map(f => dataDir(target).resolve(f).toString): _*), renames)
    // min/max need an ordered (tag-able) type; null counts apply to
    // ANY stats column — an all-null file has no min/max line at all,
    // and its nulls line is precisely what lets IS NOT NULL prune it.
    val present = df.schema.fields.filter(f => sCols.contains(f.name))
    val fields = present.filter(f => tagOf(f.dataType).isDefined)
    if (present.isEmpty) return Map.empty
    val aggs = fields.flatMap { f =>
      val in = statInput(f.name, f.dataType)
      Seq(min(in).as(s"__mn_${f.name}"), max(in).as(s"__mx_${f.name}"))
    } ++ present.map(f =>
      count(col(f.name)).as(s"__nn_${f.name}")) :+
      count(lit(1)).as("__rows")
    df.withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .collect().iterator.flatMap { r =>
        val file = r.getAs[String]("__file")
        val rows = r.getAs[Long]("__rows")
        fields.flatMap { f =>
          val tag = tagOf(f.dataType).get
          for {
            mn <- encodeStatValue(tag, r.getAs[Any](s"__mn_${f.name}"))
            mx <- encodeStatValue(tag, r.getAs[Any](s"__mx_${f.name}"))
          } yield statsKey(file, f.name) -> s"$tag $mn $mx"
        } ++ present.map { f =>
          nullsKey(file, f.name) ->
            s"${rows - r.getAs[Long](s"__nn_${f.name}")} $rows"
        }
      }.toMap
  }

  /** Candidate files for a key-conjunction probe: prune by the batch's
    * min/max on every stats column that is part of the key — one tiny
    * aggregate over the batch's key columns, then driver-side interval
    * tests against the manifest stats. A key-local batch against a
    * range-clustered table prunes to O(overlapping files); a table
    * without key stats (or a batch with none computable) keeps every
    * file, the pre-stats behavior. */
  private def pruneByKeyBounds(target: String, parentV: Int,
                               files: Seq[String], batchKeys: DataFrame,
                               pk: Seq[String]): Seq[String] = {
    val sCols = statsColumns(target, Some(parentV)).filter(pk.contains)
    if (sCols.isEmpty) return files
    val fields = batchKeys.schema.fields
      .filter(f => sCols.contains(f.name) && tagOf(f.dataType).isDefined)
    if (fields.isEmpty) return files
    val aggs = fields.flatMap { f =>
      val in = statInput(f.name, f.dataType)
      Seq(min(in).as(s"__mn_${f.name}"), max(in).as(s"__mx_${f.name}"))
    }.toSeq
    val r = batchKeys.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bounds = fields.flatMap { f =>
      val tag = tagOf(f.dataType).get
      for {
        mn <- rawStatValue(r.getAs[Any](s"__mn_${f.name}"))
        mx <- rawStatValue(r.getAs[Any](s"__mx_${f.name}"))
      } yield f.name -> ((tag, Option(mn), Option(mx)))
    }.toMap
    if (bounds.isEmpty) files // empty batch: probe finds nothing anyway
    else pruneFiles(files, fileStatsOf(target, parentV), bounds)
  }

  /** Probe-side scan of candidate files: ONLY `cols` plus the row's
    * file name — column-pruned and file-pruned, the cheapest plan that
    * can answer "which files hold matched keys". */
  private def probeScan(spark: SparkSession, target: String, version: Int,
                        names: Seq[String], cols: Seq[String]): DataFrame =
    readSubsetWithPos(spark, target, version, names)
      .select((cols :+ "__file").map(col): _*)

  /** The (columns, fpp) bloom configuration a verb inherits from its
    * parent manifest. */
  private def inheritedBloom(target: String,
                             parentV: Int): (Seq[String], Double) =
    (bloomColumns(target, Some(parentV)),
      manifestMeta(target, Some(parentV)).get(BloomFppKey)
        .map(_.toDouble).getOrElse(0.01))

  /** [[commit]] plus stats upkeep: new files' freshly computed stats
    * lines join the parent's lines for carried files (rewritten files'
    * stats die with them), and `stats.cols` rides every commit so the
    * property survives arbitrary verb interleavings. User metadata must
    * stay clear of the reserved stats namespace. */
  private def commitWithStats(spark: SparkSession, target: String,
                              files: Seq[String], parent: Int,
                              userMeta: Map[String, String],
                              newFiles: Seq[String],
                              sCols: Seq[String],
                              schema: org.apache.spark.sql.types.StructType,
                              bCols: Seq[String] = Nil,
                              bloomFpp: Double = 0.01,
                              dvUpdates: Map[String, String] = Map.empty)
      : Int = {
    val (fresh, blooms) = freshStatsAndBlooms(spark, target, newFiles,
      sCols, bCols, bloomFpp, schema)
    assembleAndCommit(spark, target, files, parent, userMeta, fresh,
      blooms, sCols, schema, bCols, bloomFpp, dvUpdates)
  }

  /** Fresh per-file stats + bloom manifest lines for `newFiles` — the
    * guarded computation both commit tails share: [[commitWithRebase]]
    * runs it once before its CAS loop (a rebase re-commits the lines
    * against a moved head without re-running the jobs), and
    * [[commitWithStats]] inline. */
  private def freshStatsAndBlooms(spark: SparkSession, target: String,
      newFiles: Seq[String], sCols: Seq[String], bCols: Seq[String],
      bloomFpp: Double, schema: org.apache.spark.sql.types.StructType)
      : (Map[String, String], Map[String, String]) = {
    val renames = logicalByPhysical(schema)
    val fresh =
      if (sCols.isEmpty && bCols.isEmpty) Map.empty[String, String]
      else computeFileStats(spark, target, newFiles, sCols, renames)
    val blooms =
      if (bCols.isEmpty) Map.empty[String, String]
      else computeFileBlooms(spark, target, newFiles, bCols, bloomFpp,
        renames)
    (fresh, blooms)
  }

  /** [[commitWithStats]] with the fresh per-file stats/bloom lines
    * PRE-COMPUTED — [[commitWithRebase]] re-assembles an
    * already-computed verb at each moved head without re-running the
    * stats jobs. Returns the committed version. */
  private def assembleAndCommit(spark: SparkSession, target: String,
                                files: Seq[String], parent: Int,
                                userMeta: Map[String, String],
                                fresh: Map[String, String],
                                blooms: Map[String, String],
                                sCols: Seq[String],
                                schema: org.apache.spark.sql.types.StructType,
                                bCols: Seq[String],
                                bloomFpp: Double,
                                dvUpdates: Map[String, String]): Int = {
    require(!userMeta.keys.exists(k =>
        k == StatsColsKey || k == SchemaKey || k == BloomColsKey ||
          k == BloomFppKey || isStatsKey(k) || isBloomKey(k) ||
          isNullsKey(k) || isConstraintKey(k) || isDvKey(k) ||
          isSizeKey(k)),
      s"manifest metadata keys '$StatsColsKey', '$SchemaKey', " +
        s"'$BloomColsKey', '$BloomFppKey', 's:*', 'b:*', 'n:*', 'z:*', " +
        s"'$DvPrefix*' and '$ConstraintPrefix*' are reserved")
    val fileSet = files.toSet
    // Every live file gets a `z:` size line: carried from the parent,
    // statted ONCE for a new file just moved in by writeFiles. Delta
    // encoding makes carried lines free — only the new files' lines
    // hit the commit bytes.
    val parentMeta =
      if (parent < 0) Map.empty[String, String]
      else manifestMeta(target, Some(parent))
    val sizes: Map[String, String] = files.map { f =>
      val k = sizeKey(f)
      k -> parentMeta.getOrElse(k,
        Files.size(dataDir(target).resolve(f)).toString)
    }.toMap
    // Constraints are table POLICY, not per-commit state: they carry
    // through every verb commit until an explicit dropConstraint, the
    // same way the schema does. WAP branch markers are policy too — a
    // long-lived audit branch whose verb commits dropped them would be
    // orphaned from its source the moment retention reclaimed its birth
    // manifest. Deletion-vector lines carry with their data file — a
    // rewritten file's new NAME has no line, which is exactly the
    // materialization contract. A replica's sync marker carries too:
    // a compaction keeps the content it vouches for, and a vacuum that
    // dropped the marker's own manifest must not send the next sync
    // back to a stale start.
    val policyCarry =
      if (parent < 0) Map.empty[String, String]
      else manifestMeta(target, Some(parent)).filter { case (k, _) =>
        isConstraintKey(k) || k == WapSourceKey || k == WapBaseKey ||
          k == SyncAppliedKey ||
          k == MorKey || k == PkKey || k == CkptFormatKey ||
          k == CkptIntervalKey || isCopyKey(k) ||
          (isDvKey(k) && fileSet.contains(k.stripPrefix(DvPrefix)))
      }
    // The schema rides EVERY commit, stats or not: a stats-less table
    // (unclustered init) must still be able to drop/rename/add columns,
    // whose verbs refuse without a manifest-recorded schema — and a
    // schema-planned read skips per-file footer inference either way.
    if (sCols.isEmpty && bCols.isEmpty)
      commit(target, files, parent,
        policyCarry ++ dvUpdates ++ sizes ++ userMeta +
          (SchemaKey -> schema.json))
    else {
      val carried = parentMeta.filter { case (k, _) =>
        (isStatsKey(k) || isBloomKey(k) || isNullsKey(k)) &&
          fileSet.contains(statsKeyFile(k))
      }
      val props = Map(SchemaKey -> schema.json) ++
        (if (sCols.nonEmpty) Map(StatsColsKey -> sCols.mkString(","))
         else Map.empty) ++
        (if (bCols.nonEmpty) Map(BloomColsKey -> bCols.mkString(","),
          BloomFppKey -> bloomFpp.toString)
         else Map.empty)
      commit(target, files, parent,
        policyCarry ++ dvUpdates ++ sizes ++ userMeta ++ carried ++
          fresh ++ blooms ++ props)
    }
  }

  // ------------------------------------------------------------------
  // Bloom sidecars: point-lookup skipping on UNCLUSTERED columns.
  //
  // Min/max stats only prune when the layout makes per-file ranges
  // tight; a high-cardinality column that is NOT the cluster key (doc
  // ids in a time-clustered table) spans its whole domain in every
  // file, so a point-lookup batch ("fetch these 100 doc_ids") scans
  // the table. The lakehouse answer (Delta's bloom filter index,
  // parquet's column blooms — both public designs) is a per-file Bloom
  // filter consulted at PLANNING time: a file whose bloom rejects every
  // probed value cannot hold a match (no false negatives), so it drops
  // from the plan; false positives only cost a wasted read.
  //
  // Layout: one sidecar per (file, column) under <target>/_blooms/,
  // written BEFORE the manifest CAS and referenced by `#b:<file>:<col>`
  // metadata lines — the reference commits atomically with the file
  // list, the sidecar is immutable once referenced, and an orphan from
  // a lost CAS is reclaimed by vacuum like any staged data file.
  // Filters are spark.util.sketch.BloomFilter (long + string items,
  // Spark's own stat.bloomFilter encoding), sized per file from the
  // parquet metadata row count at `bloom.fpp`.
  // ------------------------------------------------------------------

  /** Manifest property naming the table's bloom columns. */
  private[store] val BloomColsKey = "bloom.cols"
  private[store] val BloomFppKey = "bloom.fpp"
  private def isBloomKey(k: String): Boolean = k.startsWith("b:")
  private def bloomKey(file: String, column: String) = s"b:$file:$column"
  private def bloomsDir(target: String): Path = Paths.get(target, "_blooms")

  /** The table's bloom columns at a version (empty = none kept). */
  def bloomColumns(target: String, version: Option[Int] = None): Seq[String] =
    manifestMeta(target, version).get(BloomColsKey)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** Normalize a value to the bloom item domain (what Spark's
    * stat.bloomFilter put: integrals as long, strings as UTF-8). */
  private def bloomItem(v: Any): Option[Any] = v match {
    case null => None
    case n: java.lang.Byte => Some(java.lang.Long.valueOf(n.longValue))
    case n: java.lang.Short => Some(java.lang.Long.valueOf(n.longValue))
    case n: java.lang.Integer => Some(java.lang.Long.valueOf(n.longValue))
    case n: java.lang.Long => Some(n)
    case s: String => Some(s)
    case _ => None // unsupported type: no bloom pruning
  }

  /** Build per-file bloom sidecars for freshly written `files` in ONE
    * distributed pass: the batch's rows shuffle by file name (a file's
    * rows co-locate; ~one file per task), each task folds its files'
    * rows into per-column filters sized from a broadcast per-file
    * count, and the serialized filters come back file-at-a-time for
    * the sidecar writes. O(batch) work and a driver footprint of
    * #files × filter size — never a job per file, which at a
    * thousand-file init would mean a thousand scheduler round-trips.
    * Items follow Spark's stat.bloomFilter encoding (integrals as
    * long, strings as UTF-8). Returns the manifest reference lines. */
  private def computeFileBlooms(spark: SparkSession, target: String,
                                files: Seq[String], bCols: Seq[String],
                                fpp: Double,
                                renames: Map[String, String] = Map.empty)
      : Map[String, String] = {
    if (files.isEmpty || bCols.isEmpty) return Map.empty
    val df = renameAll(spark.read.parquet(
      files.map(f => dataDir(target).resolve(f).toString): _*), renames)
    val present = bCols.filter(c => df.schema.fields.exists(fd =>
      fd.name == c && (fd.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      })))
    if (present.isEmpty) return Map.empty
    Files.createDirectories(bloomsDir(target))
    val isString = present.map(c =>
      c -> (df.schema(c).dataType ==
        org.apache.spark.sql.types.StringType)).toMap
    val keyed = df
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .select(col("__file") +:
        present.map(c => if (isString(c)) col(c)
          else col(c).cast("long").as(c)): _*)
    // Per-file row counts size each filter (column-pruned scan).
    val counts = keyed.groupBy("__file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bCounts = spark.sparkContext.broadcast(counts)
    val colIsString = present.map(isString)
    val nCols = present.length
    val built = keyed
      .repartition(math.max(1, files.size), col("__file"))
      .rdd.mapPartitions { rows =>
        import org.apache.spark.util.sketch.BloomFilter
        val perFile = scala.collection.mutable.Map
          .empty[String, Array[BloomFilter]]
        rows.foreach { r =>
          val f = r.getString(0)
          val bfs = perFile.getOrElseUpdate(f, Array.tabulate(nCols)(_ =>
            BloomFilter.create(
              math.max(1L, bCounts.value.getOrElse(f, 1L)), fpp)))
          var i = 0
          while (i < nCols) {
            if (!r.isNullAt(i + 1)) {
              if (colIsString(i)) bfs(i).putString(r.getString(i + 1))
              else bfs(i).putLong(r.getLong(i + 1))
            }
            i += 1
          }
        }
        perFile.iterator.flatMap { case (f, bfs) =>
          bfs.iterator.zipWithIndex.map { case (bf, i) =>
            val out = new java.io.ByteArrayOutputStream()
            bf.writeTo(out)
            (f, i, out.toByteArray)
          }
        }
      }.collect()
    built.map { case (f, i, bytes) =>
      val c = present(i)
      val name = s"$f.$c.bloom"
      Files.write(bloomsDir(target).resolve(name), bytes)
      bloomKey(f, c) -> name
    }.toMap
  }

  /** Point-lookup read with bloom skipping: plan only the files whose
    * bloom MIGHT contain at least one of `values` (files without a
    * bloom for the column stay candidates), then apply the exact
    * `isin` — bit-identical to `read().where(col isin values)`; no
    * false negatives by the bloom contract, false positives only cost
    * a read. `values` is a lookup batch (the bloom tests run
    * driver-side, O(files × values)); a table-sized probe belongs in
    * [[scanForKeys]]. */
  def scanPoints(spark: SparkSession, target: String, colName: String,
                 values: Seq[Any],
                 version: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "scanPoints needs lookup values")
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val files = liveFiles(target, Some(v))
    val meta = manifestMeta(target, Some(v))
    val cand =
      if (!bloomColumns(target, Some(v)).contains(colName)) files
      else bloomPruneFiles(target, meta, files, colName, values)
    val base =
      if (cand.size == files.size) read(spark, target, Some(v))
      else readSubset(spark, target, v, cand)
    base.where(col(colName).isin(values: _*))
  }

  /** Delete bloom sidecars whose data file no longer exists — called
    * from [[vacuum]] after data-file reclaim (covers both superseded
    * files and a lost commit's orphaned sidecars). */
  private def vacuumBlooms(target: String): Unit = {
    val dir = bloomsDir(target)
    if (!Files.isDirectory(dir)) return
    Files.list(dir).iterator().asScala
      .filter { p =>
        // <datafile>.<col>.bloom — resolve the data file prefix.
        val n = p.getFileName.toString
        n.endsWith(".bloom") && {
          val dataName = n.stripSuffix(".bloom").split("\\.parquet")(0) +
            ".parquet"
          !Files.exists(dataDir(target).resolve(dataName))
        }
      }.toSeq.foreach(Files.deleteIfExists)
  }

  /** The manifest-recorded schema of a version — every commit records
    * one, so a retained version without it is a damaged manifest. A
    * vacuumed version fails like [[liveFiles]]. */
  private[store] def manifestSchema(target: String, version: Int)
      : org.apache.spark.sql.types.StructType =
    stateOpt(target, version).getOrElse(
      throw new java.nio.file.NoSuchFileException(
        listPath(target, version).toString))
      .meta.get(SchemaKey).map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(throw new IllegalStateException(
        s"manifest v$version at $target records no schema"))

  /** Atomically publish `files` as version `parent + 1`, FAILING if that
    * version already exists — the manifest CAS that turns the sink
    * multi-writer-safe (Delta's optimistic concurrency in miniature).
    *
    * Versions are dense sequential integers, so "reject if the parent
    * version moved" is exactly "create v(parent+1) if absent". The
    * atomic create-with-content primitive is link(2): the manifest is
    * fully written to a private temp name first, then hard-linked to its
    * final name — `createLink` fails with FileAlreadyExistsException if
    * another writer published first, and readers can never observe a
    * partially-written manifest under a versioned name. (The old
    * ATOMIC_MOVE publish was atomic but REPLACED an existing version —
    * two racing writers silently lost one commit.) On an object store
    * the same slot maps to a conditional PUT (If-None-Match) or a
    * commit/catalog service. */
  private def commit(target: String, files: Seq[String], parent: Int,
                     meta: Map[String, String] = Map.empty): Int = {
    val next = parent + 1
    val dir = manifestDir(target)
    Files.createDirectories(dir)
    meta.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains('=') && !(k + v).exists(c => c == '\n' || c == '\r'),
        s"manifest metadata key/value must be newline-free and '='-free keys: $k=$v")
    }
    require(!meta.contains(FormatKey),
      s"manifest metadata key '$FormatKey' is reserved (delta marker)")
    // In-commit timestamp: stamped HERE, monotonic vs the parent's
    // stamp. CAS losers recompute against the fresh parent. The format
    // stamp rides every version the same way.
    val parentState = if (parent < 0) None else stateOpt(target, parent)
    val parentTs: Long = parentState.flatMap(_.meta.get(TsKey))
      .flatMap(_.toLongOption).getOrElse(0L)
    val stamped = meta + (FormatVersionKey -> FormatVersion) +
      (TsKey -> math.max(System.currentTimeMillis(), parentTs + 1).toString)
    // Callers still pass the FULL file list and FULL metadata map — the
    // commit decides the ENCODING: a delta (only the changes vs the
    // parent — O(changes) bytes however many files are live) on ordinary
    // commits, a full snapshot on every interval-th version and on every
    // fresh table (parent < 0), bounding the reconstruction walk.
    val isFull = parent < 0 ||
      next % checkpointIntervalFor(stamped) == 0 || parentState.isEmpty
    def fullBody: Seq[String] =
      stamped.toSeq.sorted.map { case (k, v) => s"#$k=$v" } ++ files.sorted
    // Parquet checkpoint policy, Delta's ACTUAL commit protocol: the
    // columnar encode (O(live files) — measured seconds at 10⁵ files)
    // never rides the commit path. When the interval-th state is
    // parquet-worthy (policy + past the size threshold) the manifest
    // SLOT gets the cheap text encoding — a delta when the parent
    // state is at hand — and the parquet state materializes AFTER the
    // CAS as a `.ckpt` sidecar ([[enqueueCheckpoint]]: async,
    // best-effort; a sidecar that never lands only lengthens the walk
    // until the NEXT interval slot bounds it — self-healing, exactly
    // the public Delta contract where a missed checkpoint means
    // replaying more JSON commits, never wrong answers).
    // Sized by ARITHMETIC, not by building the 10⁵–10⁶-line string:
    // per-line byte counts summed (order-independent, so no sort) —
    // a threshold probe must not cost a full-state materialization.
    def fullTextEstBytes: Long =
      stamped.iterator.map { case (k, v) =>
        k.length + v.length + 3L }.sum +
        files.iterator.map(_.length + 1L).sum
    val parquetWorthy = isFull &&
      stamped.get(CkptFormatKey).contains("parquet") &&
      fullTextEstBytes >= compressThreshold
    val slotFull = isFull && !(parquetWorthy && parentState.nonEmpty)
    val body: Seq[String] =
      if (slotFull) fullBody
      else {
        val base = parentState.get
        val baseFiles = base.files.toSet
        val nextFiles = files.toSet
        val sets = stamped.toSeq
          .filter { case (k, v) => !base.meta.get(k).contains(v) }
          .sorted.map { case (k, v) => s"#$k=$v" }
        val unsets = (base.meta.keySet -- stamped.keySet).toSeq.sorted
          .map("~" + _)
        val adds = (nextFiles -- baseFiles).toSeq.sorted.map("+" + _)
        val removes = (baseFiles -- nextFiles).toSeq.sorted.map("-" + _)
        DeltaMarkerLine +: (sets ++ unsets ++ adds ++ removes)
      }
    val tmp = dir.resolve(
      s".v$next-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    // Full snapshots gzip past the size threshold ([[snapshotBytes]]);
    // deltas stay plain text.
    val text = body.mkString("\n")
    Files.write(tmp,
      if (slotFull) snapshotBytes(text) else text.getBytes("UTF-8")): Unit
    try {
      Files.createLink(dir.resolve(s"v$next.list"), tmp)
      if (parquetWorthy) enqueueCheckpoint(target, next)
      next
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"commit conflict at $target: another writer published v$next " +
            s"while this merge was reading v$parent — re-read and retry")
    } finally Files.deleteIfExists(tmp)
  }

  /** The post-commit checkpointer: one daemon thread materializing
    * `.ckpt` sidecars OFF the commit path (Delta writes its parquet
    * checkpoints the same way — after the commit wins, out of band).
    * Best-effort by contract: a task that fails (table vacuumed away
    * under it, disk hiccup) is dropped — the next interval slot
    * enqueues a fresh one that bounds everything before it. The core
    * thread times out when idle so batch jobs exit cleanly. */
  private lazy val ckptExec: java.util.concurrent.ThreadPoolExecutor = {
    val e = new java.util.concurrent.ThreadPoolExecutor(1, 1, 30,
      java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable]())
    e.setThreadFactory { (r: Runnable) =>
      val t = new Thread(r, "graft-async-ckpt"); t.setDaemon(true); t
    }
    e.allowCoreThreadTimeOut(true)
    e
  }
  private val pendingCkpts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.Future[_]]()

  private def enqueueCheckpoint(target: String, v: Int): Unit = {
    val key = s"$target#v$v"
    pendingCkpts.computeIfAbsent(key, _ => ckptExec.submit(new Runnable {
      def run(): Unit =
        try checkpoint(target, Some(v)): Unit
        catch { case scala.util.control.NonFatal(_) => () }
        finally pendingCkpts.remove(key): Unit
    })): Unit
  }

  /** Block until every async checkpoint enqueued SO FAR has finished
    * (landed or given up) — the deterministic hand-off for tests,
    * probes, and a maintenance window about to measure or vacuum. */
  def drainCheckpoints(): Unit =
    pendingCkpts.values.asScala.toVector.foreach { f =>
      try f.get(): Unit
      catch { case _: java.util.concurrent.ExecutionException |
                   _: java.util.concurrent.CancellationException |
                   _: InterruptedException => () }
    }

  /** Write `df` as new immutable parquet files under data/, returning
    * their relative names. Files are born under a unique staging name and
    * moved in — a crashed writer never leaves a half-written file behind
    * a name a manifest could reference. */
  private def stagedRowCount(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString),
      new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  private def writeFiles(df: DataFrame, target: String): Seq[String] = {
    Files.createDirectories(Paths.get(target)) // fresh warehouse: parent may not exist
    val stage = Files.createTempDirectory(
      Paths.get(target).getParent, ".stage-")
    df.write.mode("overwrite").parquet(stage.toString)
    Files.createDirectories(dataDir(target))
    val batch = java.util.UUID.randomUUID().toString.take(8)
    // Zero-row task outputs (empty partitions of a sparse batch) never
    // commit: at trickle-ingest scale an empty twin per append DOUBLES
    // the live file count for pure manifest/stats overhead. The probe
    // is schema-adaptive, not a byte constant: a zero-row parquet file
    // is footer-only, and a non-empty twin of the SAME schema is
    // strictly larger (same footer plus row-group metadata plus data
    // pages) — so probing ascending by size, the first file with rows
    // bounds the search and every strictly larger file skips its probe.
    // Worst-case footer reads = empties + ties + 1, whatever the schema
    // width or batch size (a >16 KB wide-schema empty footer can't
    // slip through a large rewrite, the r13 gap).
    val staged = Files.list(stage).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val sized = staged.map(p => p -> Files.size(p))
      .sortBy { case (p, s) => (s, p.toString) }
    var stopSize = Long.MaxValue // smallest size proven non-empty
    val empty = sized.iterator.filter { case (p, s) =>
      s <= stopSize && { // ties with a non-empty size still probe
        val isEmpty = stagedRowCount(p) == 0L
        if (!isEmpty) stopSize = math.min(stopSize, s)
        isEmpty
      }
    }.map(_._1).toSet
    val parts = staged.filterNot(empty)
    val named = parts.zipWithIndex.map { case (p, i) =>
      val name = s"part-$batch-$i.parquet"
      Files.move(p, dataDir(target).resolve(name))
      name
    }
    Files.list(stage).iterator().asScala.foreach(Files.deleteIfExists)
    Files.deleteIfExists(stage)
    named
  }

  /** Create the table from `df` (replacing any prior version). `numFiles`
    * controls the physical file count — at scale you'd size files to
    * ~128 MB–1 GB; here it lets tests pin amplification. `clusterBy`
    * range-partitions on a column so each file owns a contiguous key
    * range — the layout that makes a key-local update batch touch few
    * files (and parquet min/max stats prune scans). */
  def init(spark: SparkSession, df: DataFrame, target: String,
           numFiles: Int, clusterBy: Seq[String] = Nil,
           meta: Map[String, String] = Map.empty,
           statsCols: Option[Seq[String]] = None,
           zorderBy: Seq[String] = Nil,
           bloomCols: Seq[String] = Nil,
           bloomFpp: Double = 0.01): Unit = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy (range) and zorderBy (Morton) are alternative layouts")
    // Z-order: multi-dimensional clustering ([[Layouts.zorderArrange]])
    // — EVERY z dimension's per-file range tightens to
    // ~numFiles^(-1/k) of its domain, so manifest stats prune on ANY
    // of them (lexicographic range clustering serves only its leading
    // column). The Delta OPTIMIZE ZORDER layout, committed through the
    // same manifest CAS with stats on every z column.
    val arranged =
      if (zorderBy.nonEmpty) Layouts.zorderArrange(df, zorderBy, numFiles)
      else if (clusterBy.nonEmpty)
        df.repartitionByRange(numFiles, clusterBy.map(col): _*)
      else df.repartition(numFiles)
    // Stats columns default to the layout columns (tight per-file
    // ranges — the ones worth skipping on); unsupported types drop out.
    val sCols = statsCols
      .getOrElse(if (zorderBy.nonEmpty) zorderBy else clusterBy)
      .filter(c => df.schema.fields.exists(f =>
        f.name == c && tagOf(f.dataType).isDefined))
    // A re-init from a mapped read carries the mapping in the frame's
    // own field metadata; a fresh frame has none and both hops no-op.
    val files = writeFiles(toPhysical(arranged, arranged.schema), target)
    commitWithStats(spark, target, files,
      currentVersion(target).getOrElse(-1), meta, files, sCols,
      arranged.schema, bloomCols, bloomFpp)
  }

  /** Commit history: (version, commit time millis), oldest first, for
    * versions still inside the retention window. The commit time is
    * the IN-COMMIT `#graft.ts=` line the commit stamped (monotonic by
    * construction, durable under backup/restore/rsync/object-store
    * migration — Delta's in-commit-timestamps design). The head's
    * (memoized) state is reconstructed once so a pre-stamp table is
    * refused here as everywhere; the walk itself is O(manifest bytes)
    * per version, memoized per immutable manifest. */
  def history(target: String): Seq[(Int, Long)] = {
    val head = currentVersion(target).getOrElse(return Nil)
    stateOpt(target, head): Unit
    Files.list(manifestDir(target)).iterator().asScala
      .flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v") && n.endsWith(".list"))
          Some(n.stripPrefix("v").stripSuffix(".list").toInt -> inCommitTs(p))
        else None
      }.toSeq.sortBy(_._1)
  }

  /** One version's in-commit instant — the O(1) accessor for consumers
    * that need a single version's time (the FileIndex), instead of a
    * [[history]] walk. */
  private[store] def commitTimeOf(target: String, v: Int): Option[Long] =
    Some(listPath(target, v)).filter(Files.exists(_)).map(inCommitTs)

  final case class CommitInfo(version: Int, commitTimeMs: Long,
                              format: String, addedFiles: Option[Int],
                              removedFiles: Option[Int],
                              liveFiles: Option[Int])

  /** [[history]] enriched from the manifest BODIES without any state
    * reconstruction — O(manifest bytes) per version, never O(live
    * files): a delta commit reports added/removed counts straight off
    * its `+`/`-` lines, a full snapshot its live-file count. The
    * DESCRIBE-HISTORY-shaped surface `CALL graft.system.history`
    * serves. */
  def historyDetail(target: String): Seq[CommitInfo] =
    history(target).map { case (v, ms) =>
      val lines = readManifestLines(listPath(target, v))
      if (lines.headOption.contains(DeltaMarkerLine))
        CommitInfo(v, ms, "delta",
          Some(lines.count(_.startsWith("+"))),
          Some(lines.count(_.startsWith("-"))), None)
      else
        CommitInfo(v, ms, "full", None, None,
          Some(lines.count(l => l.nonEmpty && !l.startsWith("#"))))
    }

  /** The newest version committed AT OR BEFORE `timestampMillis`
    * (Delta's TIMESTAMP AS OF): None when the table's earliest
    * retained commit is later. */
  def versionAt(target: String, timestampMillis: Long): Option[Int] =
    history(target).takeWhile(_._2 <= timestampMillis).lastOption.map(_._1)

  /** Time travel by timestamp — [[read]] at [[versionAt]], failing
    * loudly when no retained commit is old enough. */
  def readAsOf(spark: SparkSession, target: String,
               timestampMillis: Long): DataFrame =
    read(spark, target, Some(versionAt(target, timestampMillis)
      .getOrElse(sys.error(
        s"no commit at or before $timestampMillis at $target — earliest " +
          s"retained commit is ${history(target).headOption.map(_._2)}"))))

  /** Table policy flag: SQL UPDATE/DELETE against this table route
    * merge-on-read (deletion vectors). Carried like constraints —
    * durable across sessions, set at [[create]] or by
    * [[GraftCatalog.register]]'s session override. */
  private[store] val MorKey = "graft.mor"

  /** Table policy: the table's declared key columns (comma-separated),
    * the Delta `delta.primaryKey`-style convention this engine spells
    * `graft.pk`. NOT enforced on writes (the merge verbs take pk
    * explicitly — the enforced contract); it exists so SQL-only
    * consumers can ask for key-dependent derivations —
    * `table_changes(...)` computes its change feed against it without
    * a pk argument. Carried like constraints and MOR. */
  private[store] val PkKey = "graft.pk"

  /** The table's declared `graft.pk` key columns (empty when unset). */
  def tablePk(target: String, version: Option[Int] = None): Seq[String] =
    manifestMeta(target, version).get(PkKey)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Create an EMPTY table: commit v0 with zero files and the schema
    * (plus optional stats/bloom/MOR/pk policy) as manifest metadata —
    * the DSv2 catalog's CREATE TABLE. The first [[append]]/[[merge]]
    * against it already writes skip-indexed files under the declared
    * policy. */
  def create(target: String, schema: org.apache.spark.sql.types.StructType,
             statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
             bloomFpp: Double = 0.01, mor: Boolean = false,
             pk: Seq[String] = Nil, ckptFormat: Option[String] = None,
             ckptInterval: Option[Int] = None): Unit = {
    require(currentVersion(target).isEmpty,
      s"table already exists at $target")
    ckptFormat.foreach(f => require(f == "text" || f == "parquet",
      s"graft.ckpt.format wants 'text' or 'parquet', got '$f'"))
    ckptInterval.foreach(i => require(i >= 1,
      s"graft.ckpt.interval wants an integer >= 1, got '$i'"))
    Files.createDirectories(dataDir(target))
    val props = Map(SchemaKey -> schema.json) ++
      (if (statsCols.nonEmpty) Map(StatsColsKey -> statsCols.mkString(","))
       else Map.empty) ++
      (if (bloomCols.nonEmpty) Map(BloomColsKey -> bloomCols.mkString(","),
        BloomFppKey -> bloomFpp.toString)
       else Map.empty) ++
      (if (mor) Map(MorKey -> "true") else Map.empty) ++
      (if (pk.nonEmpty) Map(PkKey -> pk.mkString(",")) else Map.empty) ++
      ckptFormat.map(CkptFormatKey -> _) ++
      ckptInterval.map(i => CkptIntervalKey -> i.toString)
    commit(target, Nil, -1, props): Unit
  }

  /** Read a committed version (newest by default) — exactly the
    * manifest's files. A version with ZERO files (a freshly created
    * catalog table, or one whose every row was deleted) reads as the
    * empty frame under the manifest schema. */
  def read(spark: SparkSession, target: String,
           version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val files = liveFiles(target, Some(v))
    val st = manifestSchema(target, v)
    if (files.isEmpty) return toLogical(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      physicalSchema(st)), st)
    // The manifest schema plans with zero footer reads; files predating
    // an evolved column null-fill it (the parquet reader's missing-
    // column rule). Files spell renamed columns by their PHYSICAL
    // names; the logical rename lands above the DV anti-join
    // (alias-only, so user filters still push into the scan).
    toLogical(applyDv(spark, target, v, spark.read.schema(physicalSchema(st))
      .parquet(files.map(f => dataDir(target).resolve(f).toString): _*)), st)
  }

  // ------------------------------------------------------------------
  // Deletion vectors: merge-on-read DELETE (Delta deletion vectors /
  // Iceberg positional delete files). A copy-on-write delete pays a
  // full rewrite of every file holding ONE doomed row — at 100 TB a
  // trickle of point deletes (GDPR erasure, takedown requests) would
  // rewrite the table continuously. The MOR form instead marks doomed
  // ROW POSITIONS in a per-file sidecar (`<target>/_dv/<datafile>
  // .v<version>.dv.parquet`, one `pos` column) referenced by a
  // `#dv:<datafile>=<sidecar>` manifest line, committed through the
  // same CAS: O(delete) cost, zero data-file writes. Readers apply the
  // vectors as a broadcast anti-join on (file, row position) — parquet's
  // `_metadata.row_index`, stable because data files are immutable.
  // Any COW rewrite of a file MATERIALIZES its vector (the rewrite
  // reads DV-applied survivors and the old file's `dv:` line dies with
  // its name); [[purgeDeletes]] does that eagerly, compact does it for
  // the whole table. A new sidecar for an already-marked file holds
  // the UNION of positions (supersedes — one sidecar per live file),
  // so the read-side join stays one small table.
  // ------------------------------------------------------------------

  private[store] val DvPrefix = "dv:"
  private def isDvKey(k: String): Boolean = k.startsWith(DvPrefix)
  private def dvKeyOf(file: String): String = s"$DvPrefix$file"
  private def dvDir(target: String): Path = Paths.get(target, "_dv")

  /** datafile -> deletion-vector sidecar name at a version (empty =
    * no vectors; the introspection twin of [[bloomColumns]]). The
    * manifest line is `dv:<file>=<sidecar> <positions>`; the trailing
    * position count makes COUNT(*) a pure catalog lookup — this
    * accessor yields just the sidecar name. */
  def dvMeta(target: String,
             version: Option[Int] = None): Map[String, String] =
    manifestMeta(target, version).collect {
      case (k, v) if isDvKey(k) =>
        k.stripPrefix(DvPrefix) -> dvSidecarName(v)
    }

  private def dvSidecarName(line: String): String = line.takeWhile(_ != ' ')

  /** datafile -> recorded DV position count at a version. */
  def dvCounts(target: String,
               version: Option[Int] = None): Map[String, Long] =
    manifestMeta(target, version).collect {
      case (k, v) if isDvKey(k) =>
        k.stripPrefix(DvPrefix) -> v.split(" ", 2).lift(1)
          .flatMap(_.toLongOption).getOrElse(throw new IllegalStateException(
            s"deletion-vector line for ${k.stripPrefix(DvPrefix)} at " +
              s"$target records no position count: $v"))
    }

  /** All marked (data file, position) pairs of `entries` as a DataFrame
    * `(__gdvf, __gdvp)` — ONE multi-path scan of the sidecars (never a
    * per-sidecar union: a heavily marked subset would pay a plan node
    * and a task per sidecar), with the data file recovered from the
    * sidecar's own name. The `input_file_name()` here is legal under
    * Spark's single-source rule because this projection sits DIRECTLY
    * on the sidecar relation; only expressions above the DV anti-join
    * would see two file sources. */
  private def dvPositions(spark: SparkSession, target: String,
                          entries: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val posSchema = StructType(Seq(StructField("pos", LongType)))
    val paths = entries.values.toSeq.sorted
      .map(s => dvDir(target).resolve(s).toString)
    spark.read.schema(posSchema).parquet(paths: _*)
      .select(
        regexp_replace(col("_metadata.file_name"),
          "\\.v\\d+(-[0-9a-f]{8})?\\.dv\\.parquet$", "").as("__gdvf"),
        col("pos").as("__gdvp"))
  }

  /** Anti-join `entries`-scoped vectors out of `df` keyed on
    * already-materialized (`fileCol`, `posCol`) columns — the caller
    * computes them DIRECTLY over its scan, keeping every
    * `input_file_name()` under a single file source. Left-anti keeps
    * only `df`'s columns. */
  private def applyDvJoin(spark: SparkSession, target: String,
                          version: Int, df: DataFrame,
                          fileCol: String, posCol: String,
                          names: Option[Seq[String]]): DataFrame = {
    val entries = names match {
      case Some(ns) =>
        val keep = ns.toSet
        dvMeta(target, Some(version)).filter { case (f, _) => keep(f) }
      case None => dvMeta(target, Some(version))
    }
    if (entries.isEmpty) df
    else {
      val dv = dvPositions(spark, target, entries)
      df.join(broadcast(dv),
        df(fileCol) === dv("__gdvf") && df(posCol) === dv("__gdvp"),
        "left_anti")
    }
  }

  /** Anti-join a version's deletion vectors out of `df`, which must be
    * a direct by-name parquet read of (a subset of) the version's
    * files. `names = None` means the full live set. The DV side
    * broadcasts (vectors are point-delete-sized by contract —
    * [[purgeDeletes]]/compact bound their growth), so the probe stays
    * in the scan's own stage and `input_file_name()` keeps working for
    * callers that project it AFTER this. No vectors: `df` unchanged —
    * DV-free tables plan exactly as before. */
  private[store] def applyDv(spark: SparkSession, target: String,
                             version: Int, df: DataFrame,
                             names: Option[Seq[String]] = None): DataFrame = {
    if (dvMeta(target, Some(version)).isEmpty) return df // common fast path
    // _metadata.file_name, never input_file_name(): the metadata column
    // is DETERMINISTIC, so filters above this wrap still push through
    // the projection and the anti-join down into the scan — manifest
    // skipping (GraftFileIndex) keeps working on DV-bearing tables.
    // (input_file_name() is nondeterministic and would pin every
    // predicate above the join, un-pruning the read.)
    val marked = df
      .withColumn("__gdvf", col("_metadata.file_name"))
      .withColumn("__gdvp", col("_metadata.row_index"))
    applyDvJoin(spark, target, version, marked, "__gdvf", "__gdvp", names)
      .drop("__gdvf", "__gdvp")
  }

  /** Merge-on-read DELETE by predicate: mark matching rows' positions
    * in per-file deletion-vector sidecars instead of rewriting files —
    * O(delete) cost for a point delete against arbitrarily large
    * files. Same SQL semantics as [[deleteWhere]] (TRUE dies, NULL and
    * FALSE survive) and the same manifest-pruned probe; already-marked
    * rows never re-match (the probe reads DV-applied), so reruns are
    * no-ops that don't even commit. Readers pay one broadcast
    * anti-join until a rewrite/[[purgeDeletes]]/compact materializes
    * the vectors. `filesRewritten` counts the files marked. */
  def deleteWhereMor(spark: SparkSession, target: String,
                     predicate: org.apache.spark.sql.Column,
                     maxRetries: Int = 0,
                     snapshotVersion: Option[Int] = None): DeleteStats =
    deleteByPredicate(spark, target, predicate, maxRetries,
      snapshotVersion, mor = true)

  /** Merge-on-read DELETE by key set — [[delete]]'s semantics at
    * deletion-vector cost (the GDPR-erasure shape: a small key batch
    * against a huge clustered table marks a handful of positions). */
  def deleteMor(spark: SparkSession, target: String, keys: DataFrame,
                pk: Seq[String], maxRetries: Int = 0,
                snapshotVersion: Option[Int] = None): DeleteStats =
    deleteByKeys(spark, target, keys, pk, maxRetries, snapshotVersion,
      mor = true)

  /** Merge-on-read UPDATE: [[updateWhere]]'s semantics at
    * deletion-vector cost — matching rows' OLD positions are marked in
    * sidecars and their post-SET images land as appended files, in
    * a single commit. O(matched rows), never a rewrite of the files
    * they sit in: the MOR answer for a scattered compliance UPDATE
    * (re-attribute, redact a field) against huge files. SET sees the
    * OLD row; constraints see the post-SET image; the change feed nets
    * the marked/appended pair per key into update pre/post images
    * automatically. Reads pay the vectors' anti-join until
    * purge/compaction, like MOR deletes. */
  def updateWhereMor(spark: SparkSession, target: String,
                     predicate: org.apache.spark.sql.Column,
                     set: Map[String, org.apache.spark.sql.Column],
                     maxRetries: Int = 0,
                     snapshotVersion: Option[Int] = None): UpdateStats =
    updateByPredicate(spark, target, predicate, set, maxRetries,
      snapshotVersion, mor = true)

  /** Write one `<datafile>.v<version>.dv.parquet` sidecar per file of
    * `affected` from `(\_\_gdvf, __gdvp)` position rows, in ONE
    * distributed job (rows shuffle by file; partitioned write), then
    * driver-rename into `_dv/`. Returns the manifest line updates. A
    * lost CAS leaves orphan sidecars for vacuum, like staged data
    * files. */
  private def writeDvSidecars(spark: SparkSession, target: String,
                              pos: DataFrame, affected: Seq[String],
                              version: Int): Map[String, String] = {
    Files.createDirectories(dvDir(target))
    val stage = Files.createTempDirectory(
      Paths.get(target).getParent, ".dvstage-")
    // Per-file position counts ride the manifest line so COUNT(*) on a
    // MOR-heavy table never opens a sidecar (one tiny aggregate over
    // the position rows the write is about to shuffle anyway).
    val counts = pos.groupBy("__gdvf").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pos.select(col("__gdvf"), col("__gdvp").as("pos"))
      .repartition(math.max(1, affected.size), col("__gdvf"))
      .sortWithinPartitions("pos")
      .write.mode("overwrite").partitionBy("__gdvf").parquet(stage.toString)
    // Attempt-unique names (like writeFiles' batch token): two OCC
    // rivals staging vectors for the same parent must never collide —
    // a deterministic name would let the loser's REPLACE_EXISTING move
    // corrupt the winner's already-committed sidecar.
    val batch = java.util.UUID.randomUUID().toString.take(8)
    val updates = affected.map { f =>
      val dir = stage.resolve(s"__gdvf=$f")
      val parts = Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(parts.size == 1,
        s"deletion-vector stage for $f produced ${parts.size} parts")
      val name = s"$f.v$version-$batch.dv.parquet"
      Files.move(parts.head, dvDir(target).resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dvKeyOf(f) -> s"$name ${counts.getOrElse(f, 0L)}"
    }.toMap
    Files.walk(stage).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists)
    updates
  }

  /** Materialize deletion vectors eagerly (Delta's REORG TABLE …
    * APPLY (PURGE)): rewrite ONLY the DV-bearing files to their
    * surviving rows and drop the vectors — content unchanged (the
    * change feed across a purge emits nothing), read-side anti-join
    * cost gone. Returns the number of files rewritten. */
  def purgeDeletes(spark: SparkSession, target: String,
                   minDeletedFraction: Double = 0.0): Int = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      "minDeletedFraction must be in [0, 1]")
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val allMarked = dvMeta(target, Some(parentV))
    if (allMarked.isEmpty) return 0
    // Threshold form (Delta REORG's practical shape): rewrite only
    // files whose vector buries at least the given row fraction —
    // a file with a handful of buried rows keeps its cheap vector
    // instead of paying a full rewrite. Cost of the triage: sidecar
    // row counts (tiny) + ONE count aggregate over the marked files.
    val marked: Seq[String] =
      if (minDeletedFraction <= 0.0) allMarked.keys.toSeq.sorted
      else {
        val dead = dvPositions(spark, target, allMarked)
          .groupBy("__gdvf").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val total = spark.read
          .schema(physicalSchema(manifestSchema(target, parentV)))
          .parquet(allMarked.keys.toSeq.sorted
            .map(f => dataDir(target).resolve(f).toString): _*)
          .select(element_at(split(input_file_name(), "/"), -1)
            .as("__gdvf"))
          .groupBy("__gdvf").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        allMarked.keys.toSeq.sorted.filter { f =>
          val t = total.getOrElse(f, 0L)
          t > 0L && dead.getOrElse(f, 0L).toDouble / t >= minDeletedFraction
        }
      }
    if (marked.isEmpty) return 0
    val before = liveFiles(target, Some(parentV))
    val schema = manifestSchema(target, parentV)
    val survivors = readSubset(spark, target, parentV, marked)
    val newFiles =
      if (survivors.isEmpty) Seq.empty
      else writeFiles(toPhysical(
        survivors.repartition(math.max(1, marked.size)), schema), target)
    val (bCols, fpp) = inheritedBloom(target, parentV)
    commitWithStats(spark, target,
      (before.filterNot(marked.toSet) ++ newFiles).distinct, parentV,
      Map.empty, newFiles, statsColumns(target, Some(parentV)),
      schema, bCols, fpp)
    marked.size
  }

  /** [[read]] with automatic planning-time data skipping: the relation
    * plans through a [[GraftFileIndex]], so any filter Catalyst pushes
    * at the scan — a `.where`, a `spark.sql` view predicate, a join's
    * pushed conjunct — prunes files via manifest stats and bloom
    * sidecars before a single footer opens. Row-identical to `read`
    * under every predicate (pruning is a superset; Spark re-applies
    * the exact filters); prefer it for analytic reads, keep `read` for
    * verbs that need the exact manifest file list. */
  def readSkipping(spark: SparkSession, target: String,
                   version: Option[Int] = None): DataFrame =
    GraftFileIndex.readSkipping(spark, target, version)

  /** Read an explicit subset of a version's files, planned directly
    * against the manifest schema (no footer inference): pre-evolution
    * files null-fill appended columns exactly as [[read]] shows them. */
  private def readSubset(spark: SparkSession, target: String, version: Int,
                         names: Seq[String]): DataFrame = {
    val st = manifestSchema(target, version)
    if (names.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    else toLogical(applyDv(spark, target, version,
      spark.read.schema(physicalSchema(st)).parquet(
        names.map(f => dataDir(target).resolve(f).toString): _*),
      Some(names)), st)
  }

  /** [[readSubset]] carrying each row's data file name (`__file`) and
    * row position in it (`__pos`), deletion vectors applied — the one
    * probe reader of every verb that must know where a live row sits
    * (the affected-file probes, and the positions a MOR verb marks).
    * Both columns are computed DIRECTLY over the by-name scan, before
    * the anti-join — Spark forbids `input_file_name()` above a plan with
    * two file sources, so callers must never re-derive the file name
    * on top of a DV-applied frame. */
  private def readSubsetWithPos(spark: SparkSession, target: String,
                                version: Int,
                                names: Seq[String]): DataFrame = {
    val st = manifestSchema(target, version)
    if (names.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        .withColumn("__file", lit("")).withColumn("__pos", lit(0L))
    else toLogical(applyDvJoin(spark, target, version,
      spark.read.schema(physicalSchema(st)).parquet(
          names.map(f => dataDir(target).resolve(f).toString): _*)
        .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
        .withColumn("__pos", col("_metadata.row_index")),
      "__file", "__pos", Some(names)), st)
  }

  // ------------------------------------------------------------------
  // Cold probes against a parquet checkpoint: when a version's chain
  // bottoms out at a [[ParquetCkpt]] snapshot and nothing is memoized
  // yet, a range probe or a size sweep reads ONLY the checkpoint
  // columns it needs (with the range pushed into the parquet read as a
  // row-group filter) plus the O(changes) delta lines on top — instead
  // of materializing the full 10⁵–10⁶-line state into driver strings.
  // Every surprise in the delta fold (a policy/schema change that could
  // re-key stats lines, a per-file line for a file of unknown liveness)
  // bails to the normal memoized reconstruction, which is always
  // correct — the cold path is an optimization with a proof burden,
  // never a second source of truth.
  // ------------------------------------------------------------------

  /** One delta manifest's actions, parsed without a base state. */
  private final case class DeltaActs(sets: Map[String, String],
                                     unsets: Set[String],
                                     adds: Set[String],
                                     removes: Set[String])

  private def parseDeltaActs(lines: Seq[String]): DeltaActs = {
    val sets = Map.newBuilder[String, String]
    val unsets = Set.newBuilder[String]
    val adds = Set.newBuilder[String]
    val removes = Set.newBuilder[String]
    lines.iterator.drop(1).foreach { l =>
      if (l.isEmpty) ()
      else if (l.startsWith("#")) {
        val kv = l.stripPrefix("#"); val i = kv.indexOf('=')
        if (i > 0) sets += (kv.take(i) -> kv.drop(i + 1))
      } else if (l.startsWith("~")) unsets += l.stripPrefix("~")
      else if (l.startsWith("+")) adds += l.stripPrefix("+")
      else if (l.startsWith("-")) removes += l.stripPrefix("-")
    }
    DeltaActs(sets.result(), unsets.result(), adds.result(),
      removes.result())
  }

  /** The chain from `v` down to its nearest full base, ONLY when that
    * base is a format-stamped parquet checkpoint and no intermediate
    * state is already memoized: Some((checkpoint, delta actions
    * oldest-first)). An unstamped base takes the normal
    * reconstruction, whose format check refuses it. */
  private def coldParquetChain(target: String, v: Int)
      : Option[(Path, List[DeltaActs])] = {
    var pending = List.empty[DeltaActs]
    var cur = v
    while (cur >= 0) {
      val backing = backingOf(target, cur).getOrElse(return None)
      if (stateCache.get(cacheKey(target, cur, backing)) != null)
        return None // memoized state is at least as cheap
      if (ParquetCkpt.isParquetFile(backing))
        return if (ParquetCkpt.formatOf(backing).contains(FormatVersion))
          Some((backing, pending)) else None
      val lines = readManifestLines(backing)
      if (!lines.headOption.contains(DeltaMarkerLine)) return None
      pending ::= parseDeltaActs(lines)
      cur -= 1
    }
    None
  }

  /** [[candidateFiles]] served cold off a parquet checkpoint — the
    * range predicate pushes INTO the checkpoint read (file/min/max
    * columns only, row-group filtered), then the deltas fold on top.
    * None = use the normal reconstruction (not applicable, or a fold
    * surprise). The result may be a SUPERSET of the normal path's by
    * one double ULP on numeric tags (conservative typed bounds) —
    * pruning is a superset contract everywhere. */
  private def prunedColdCandidates(target: String, v: Int,
                                   colName: String, lo: Option[Any],
                                   hi: Option[Any]): Option[Seq[String]] = {
    val (base, deltas) = coldParquetChain(target, v).getOrElse(return None)
    // stats.cols / schema changes can re-key or re-type stats lines —
    // bail to the normal path on any.
    if (deltas.exists(d => d.sets.contains(StatsColsKey) ||
        d.sets.contains(SchemaKey) || d.unsets.contains(StatsColsKey) ||
        d.unsets.contains(SchemaKey))) return None
    if (!ParquetCkpt.statsColsOf(base).contains(colName)) return None
    val statPrefix = "s:"
    def statColOf(k: String): Option[(String, String)] = // (file, value key)
      if (!k.startsWith(statPrefix)) None
      else {
        val rest = k.drop(2); val f = rest.take(rest.indexOf(':'))
        if (f.nonEmpty && rest.drop(f.length + 1) == colName) Some((f, k))
        else None
      }
    // One tag must describe the column across base AND deltas — the
    // normal path's per-column tag discovery, reproduced off the
    // footer map + the delta lines (mixed tags = no pruning there;
    // bail = the same result via reconstruction).
    val deltaTags = deltas.iterator.flatMap(_.sets.iterator).flatMap {
      case (k, value) => statColOf(k).map(_ =>
        value.split(" ", 3).headOption.getOrElse(""))
    }.toSet
    val footerTags = ParquetCkpt.colTags(base).getOrElse(colName, Nil)
    val effTag = (footerTags ++ deltaTags).distinct.toList match {
      case Nil =>
        // The column has no stats line anywhere: every live file is a
        // candidate — fold adds/removes over the plain file column.
        val all = scala.collection.mutable.LinkedHashSet.empty[String]
        all ++= ParquetCkpt.allFiles(base)
        deltas.foreach { d =>
          d.removes.foreach { f => all -= f; () }
          d.adds.foreach { f => all += f; () }
        }
        return Some(all.toSeq.sorted)
      case t :: Nil => t
      case _ => return None
    }
    val basePruned = ParquetCkpt.prunedFiles(base, colName, effTag,
      lo.flatMap(rawBound(effTag, _)), hi.flatMap(rawBound(effTag, _)))
      .getOrElse(return None)
    def overlaps(lineValue: String): Option[Boolean] =
      lineValue.split(" ", 3) match {
        case Array(t, mnE, mxE) =>
          if (t != effTag) None // tag drift mid-chain: bail
          else {
            val dec = (x: String) =>
              if (t == "s") java.net.URLDecoder.decode(x, "UTF-8") else x
            val (mn, mx) = (dec(mnE), dec(mxE))
            val l = lo.flatMap(rawBound(t, _))
            val h = hi.flatMap(rawBound(t, _))
            Some(!(h.exists(b => statLt(t, b, mn)) ||
              l.exists(b => statLt(t, mx, b))))
          }
        case _ => Some(true) // malformed: candidate
      }
    val cand = scala.collection.mutable.LinkedHashSet.empty[String]
    cand ++= basePruned
    val prunedKnown = scala.collection.mutable.HashSet.empty[String]
    deltas.foreach { d =>
      d.removes.foreach { f => cand -= f; prunedKnown -= f; () }
      d.adds.foreach { f =>
        d.sets.get(s"s:$f:$colName") match {
          case Some(line) => overlaps(line) match {
            case Some(true) => cand += f
            case Some(false) => prunedKnown += f
            case None => return None
          }
          case None => cand += f
        }
        ()
      }
      d.sets.foreach { case (k, line) =>
        statColOf(k) match {
          case Some((f, _)) if !d.adds.contains(f) =>
            overlaps(line) match {
              case Some(ov) =>
                if (cand.contains(f)) {
                  if (!ov) { cand -= f; prunedKnown += f }
                } else if (prunedKnown.contains(f)) {
                  if (ov) { prunedKnown -= f; cand += f }
                } else return None // liveness unknown
              case None => return None
            }
          case _ => ()
        }
      }
      d.unsets.foreach { k =>
        statColOf(k) match {
          case Some((f, _)) if !d.removes.contains(f) =>
            // Stats gone, file live: must be a candidate.
            if (prunedKnown.contains(f)) { prunedKnown -= f; cand += f }
            else if (!cand.contains(f)) return None
          case _ => ()
        }
      }
    }
    Some(cand.toSeq.sorted)
  }

  /** [[fileSizes]] served cold off a parquet checkpoint: (file, size)
    * columns only, plus the deltas' own `z:` lines. */
  private def coldSizes(target: String, v: Int)
      : Option[Seq[(String, Long)]] = {
    val (base, deltas) = coldParquetChain(target, v).getOrElse(return None)
    val sizes = scala.collection.mutable.LinkedHashMap.empty[
      String, Option[Long]]
    ParquetCkpt.sizes(base).foreach { case (f, s) => sizes(f) = s }
    deltas.foreach { d =>
      d.removes.foreach { f => sizes.remove(f); () }
      d.adds.foreach { f =>
        sizes(f) = d.sets.get(sizeKey(f)).flatMap(_.toLongOption)
      }
      d.sets.foreach { case (k, value) =>
        if (isSizeKey(k)) {
          val f = k.drop(2)
          if (!sizes.contains(f)) return None // liveness unknown
          sizes(f) = value.toLongOption
        }
      }
      d.unsets.foreach { k =>
        if (isSizeKey(k)) {
          val f = k.drop(2)
          if (sizes.contains(f)) sizes(f) = None
        }
      }
    }
    Some(sizes.iterator.map { case (f, s) =>
      f -> recordedSize(target, v, f, s)
    }.toSeq.sortBy(_._1))
  }

  /** The manifest-pruned candidate file list for a one-column range
    * probe — exposed for specs and skip audits (the measured skip
    * curves are recorded in SCALE.md §"MANIFEST STATS"). Bounds are
    * inclusive; None = unbounded side. */
  def candidateFiles(spark: SparkSession, target: String, colName: String,
                     lo: Option[Any], hi: Option[Any],
                     version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    prunedColdCandidates(target, v, colName, lo, hi) match {
      case Some(cold) => return cold
      case None => ()
    }
    val files = liveFiles(target, Some(v))
    if (!statsColumns(target, Some(v)).contains(colName)) files
    else {
      val stats = fileStatsOf(target, v)
      // The column's ordering comes from the stats lines' own type tag —
      // never from schema inference (which would open every footer just
      // to learn the type, defeating the skip).
      stats.valuesIterator.flatMap(_.get(colName)).map(_._1)
        .toSet.toList match {
        case tag :: Nil => pruneFiles(files, stats,
          Map(colName -> (tag, lo.flatMap(rawBound(tag, _)),
            hi.flatMap(rawBound(tag, _)))))
        case _ => files // no stats lines yet, or mixed tags: no pruning
      }
    }
  }

  /** Range/point read with manifest-level data skipping: plan only the
    * files whose `[min, max]` on `colName` overlaps `[lo, hi]`, then
    * apply the exact predicate — bit-identical to
    * `read().where(colName between lo and hi)` (pruning is a superset;
    * NULL rows fail the predicate on both paths), but a selective probe
    * on a range-clustered table touches O(overlap) files instead of
    * listing and opening every live file. Both bounds inclusive;
    * pass None for a half-open scan (at least one bound required). */
  def scanRange(spark: SparkSession, target: String, colName: String,
                lo: Option[Any], hi: Option[Any],
                version: Option[Int] = None): DataFrame = {
    require(lo.isDefined || hi.isDefined, "scanRange needs a bound")
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val cand = candidateFiles(spark, target, colName, lo, hi, Some(v))
    val base =
      if (cand.size == liveFiles(target, Some(v)).size)
        read(spark, target, Some(v))
      else readSubset(spark, target, v, cand)
    val pred = (lo.map(v => col(colName) >= lit(v)) ++
      hi.map(v => col(colName) <= lit(v))).reduce(_ && _)
    base.where(pred)
  }

  /** Multi-column [[scanRange]] (bounds conjunction): a file must
    * overlap EVERY bounded column's interval to stay a candidate — the
    * read that exploits a z-ordered layout, where every z dimension's
    * per-file range is tight and a 2-dim box probe prunes
    * multiplicatively. Bit-identical to `read().where(AND of ranges)`. */
  def scanRanges(spark: SparkSession, target: String,
                 ranges: Map[String, (Option[Any], Option[Any])],
                 version: Option[Int] = None): DataFrame = {
    require(ranges.nonEmpty &&
      ranges.values.exists(r => r._1.isDefined || r._2.isDefined),
      "scanRanges needs at least one bound")
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val files = liveFiles(target, Some(v))
    val stats = fileStatsOf(target, v)
    val sCols = statsColumns(target, Some(v))
    val bounds = ranges.iterator.flatMap { case (c, (lo, hi)) =>
      if (!sCols.contains(c)) None
      else stats.valuesIterator.flatMap(_.get(c)).map(_._1)
        .toSet.toList match {
        case tag :: Nil => Some(c -> ((tag, lo.flatMap(rawBound(tag, _)),
          hi.flatMap(rawBound(tag, _)))))
        case _ => None
      }
    }.toMap
    val cand = pruneFiles(files, stats, bounds)
    val base =
      if (cand.size == files.size) read(spark, target, Some(v))
      else readSubset(spark, target, v, cand)
    val pred = ranges.iterator.flatMap { case (c, (lo, hi)) =>
      lo.map(x => col(c) >= lit(x)) ++ hi.map(x => col(c) <= lit(x))
    }.reduce(_ && _)
    base.where(pred)
  }

  /** CoreStore.upsert-shaped entry point for the pipeline's merge sink:
    * first load creates the table ([[init]], range-clustered on
    * `clusterBy` so later key-local merges touch few files), every load
    * after that is a file-granular [[merge]]. Returns (inserted, updated),
    * the load_log fields — drop-in for [[CoreStore.upsert]]'s contract
    * (idempotent, last-write-wins per PK, `ordCols` ordering intra-batch
    * duplicates). */
  def upsert(spark: SparkSession, rows: DataFrame, target: String,
             pk: Seq[String], dataCols: Seq[String],
             ordCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
             numFiles: Int = 8, maxLiveFiles: Int = 0,
             maxRetries: Int = 3,
             vacuumGraceMillis: Long = DefaultVacuumGraceMillis): (Long, Long) = {
    require(pk.nonEmpty, s"merge sink at $target has no primary key")
    val incoming = rows.where(pk.map(col(_).isNotNull).reduce(_ && _))
    if (currentVersion(target).isEmpty) {
      val ord = if (ordCols.nonEmpty) ordCols.map(col)
        else Seq(monotonically_increasing_id())
      val deduped = Upsert.dedupByKey(incoming, pk, ord)
        .select(dataCols.map(col): _*)
      init(spark, deduped, target, numFiles, clusterBy)
      (read(spark, target).count(), 0L)
    } else {
      val stats = merge(spark,
        incoming.select((dataCols ++ ordCols).map(col): _*),
        target, pk, ordCols, maxRetries)
      maintain(spark, target, numFiles, maxLiveFiles, clusterBy,
        vacuumGraceMillis)
      (stats.rowsInserted, stats.rowsUpdated)
    }
  }

  /** Scheduled maintenance, run automatically after every [[upsert]]
    * merge: when the manifest's live file count exceeds `maxLiveFiles`
    * (default 4 × the `targetFiles` layout target — enough slack that
    * steady trickle loads don't compact every batch, tight enough that
    * scan-time per-file opens stay bounded), [[compact]] back to
    * `targetFiles` range-clustered files and [[vacuum]] the superseded
    * ones. Single-writer safe by the same manifest-commit protocol as
    * the merges themselves. Returns true iff a compaction ran. */
  def maintain(spark: SparkSession, target: String, targetFiles: Int,
               maxLiveFiles: Int = 0, clusterBy: Seq[String] = Nil,
               vacuumGraceMillis: Long = DefaultVacuumGraceMillis): Boolean = {
    val cap = if (maxLiveFiles > 0) maxLiveFiles else 4 * targetFiles
    if (liveFiles(target).size <= cap) false
    else {
      compact(spark, target, targetFiles, clusterBy)
      // Default grace: files a rival in-flight writer has staged (young,
      // unreferenced) survive; this writer's own superseded files are
      // reclaimed on a later maintenance pass once they age out. A
      // known-single-writer pipeline passes 0 for immediate reclaim.
      vacuum(target, graceMillis = vacuumGraceMillis)
      true
    }
  }

  /** True iff `target` holds a committed merge table — how readers
    * distinguish this layout from CoreStore's partitioned parquet. */
  def exists(target: String): Boolean = currentVersion(target).isDefined

  /** Rows of the table whose `keyCols` appear in `keys` — the manifest-
    * pruned semi-join read: candidate files come from the key batch's
    * bounds vs the per-file stats (a superset of the true holders), then
    * the exact semi-join filters. The IVM refresh's touched-group read
    * and any point-lookup batch use this instead of scanning every live
    * file. Bit-identical to `read().join(keys, keyCols, "left_semi")`. */
  def scanForKeys(spark: SparkSession, target: String, keys: DataFrame,
                  keyCols: Seq[String],
                  version: Option[Int] = None): DataFrame = {
    require(keyCols.nonEmpty, s"scanForKeys at $target needs key columns")
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val keyRows = keys.select(keyCols.map(col): _*).distinct()
    val before = liveFiles(target, Some(v))
    val candidates = pruneByKeyBounds(target, v, before, keyRows, keyCols)
    val base = if (candidates.size == before.size) read(spark, target, Some(v))
      else readSubset(spark, target, v, candidates)
    base.join(keyRows, keyCols, "left_semi")
  }

  /** File-disjoint OCC conflict resolution: decide whether a verb
    * computed against `parentV` may RE-COMMIT its already-computed
    * result onto `newHead` WITHOUT recomputation — Delta's commit
    * protocol re-validates the loser's read set against the interleaved
    * commits the same way, so disjoint writers never serialize into
    * recompute chains. Safe iff every rival commit in
    * (`parentV`, `newHead`] is logically disjoint from this verb's read
    * set:
    *
    *   1. table POLICY unchanged — schema, stats/bloom configuration,
    *      and constraints byte-equal across the span (a rival rename /
    *      evolution / constraint change invalidates the computed
    *      batch);
    *   2. every file this verb REWRITES is still live at the new head
    *      (a rival rewrite or compaction means the computed survivors
    *      are stale);
    *   3. the batch's key-bounds probe against the NEW head's live set
    *      yields exactly the files probed at the parent — a rival
    *      added or removed a file overlapping this batch's key range,
    *      and its rows could change the match set. A table without key
    *      stats never passes this after any rival file change
    *      (conservative: candidates were "all files");
    *   4. no deletion vector on a probed candidate changed — a rival
    *      MOR delete (or a restore reviving buried rows) silently
    *      changes which rows are ALIVE in files this verb read.
    *
    * The whole check is manifest-only (plus one tiny bounds aggregate
    * on the already-cached batch inside `candidatesAt`): zero
    * data-file IO. `candidatesAt(version, files)` re-runs the verb's
    * OWN pruning (key bounds for merge/applyChanges/key deletes,
    * implied predicate bounds for WHERE verbs) against the new head. */
  private def rebaseSafe(target: String, parentV: Int, newHead: Int,
                         candidates: Seq[String], affected: Set[String],
                         candidatesAt: (Int, Seq[String]) => Seq[String])
      : Boolean = {
    val pm = manifestMeta(target, Some(parentV))
    val hm = manifestMeta(target, Some(newHead))
    def policy(m: Map[String, String]): Map[String, String] =
      m.filter { case (k, _) =>
        k == SchemaKey || k == StatsColsKey || k == BloomColsKey ||
          k == BloomFppKey || isConstraintKey(k)
      }
    if (policy(pm) != policy(hm)) return false
    val headFiles = liveFiles(target, Some(newHead))
    val headSet = headFiles.toSet
    if (!affected.forall(headSet.contains)) return false
    val candSet = candidates.toSet
    if (candidatesAt(newHead, headFiles).toSet != candSet) return false
    def dvOf(m: Map[String, String]): Map[String, String] =
      m.filter { case (k, _) =>
        isDvKey(k) && candSet.contains(k.stripPrefix(DvPrefix))
      }
    dvOf(pm) == dvOf(hm)
  }

  /** A verb's READ SET, which [[rebaseSafe]] re-validates at a moved
    * head: the candidate files it probed, the files it rewrote or
    * DV-marked (they must still be live there), and its own pruning
    * re-run against a head's live files. */
  private final case class ReadSet(candidates: Seq[String],
                                   affected: Set[String],
                                   candidatesAt: (Int, Seq[String]) => Seq[String])
  /** The read set of a write that reads no data file (append, COPY
    * INTO): any rival that left table policy alone rebases. */
  private val BlindWrite = ReadSet(Nil, Set.empty, (_, _) => Nil)

  /** The version a rebasing commit landed, and how many rebases it took. */
  private final case class Committed(version: Int, rebases: Int)

  /** The one commit tail of every verb that rebases (append, overwrite,
    * COPY INTO, the upsert, the conditional merge, the row-level verbs,
    * compactSmall). The verb hands over what it produced: `newFiles`
    * written against `parentV`, the head files they `replaced` (a set
    * of names, or `_ => true` for an overwrite), the `recorded`
    * schema, user `meta`, `dvUpdates` and its read set. Fresh
    * stats/bloom lines for the new files compute ONCE here, under the
    * parent's stats columns and bloom configuration; then the CAS is
    * tried at `head`. On loss the read set is validated against the
    * new head with [[rebaseSafe]] and the same result re-assembles
    * there (zero data IO), rethrowing to the verb's recompute path on
    * true overlap. `staleAt` is re-checked at EVERY head (applyChanges'
    * MarkerGuard, COPY INTO's ledger — a rival that moved the marker
    * turns the rebase into a dropped replay): when it fires nothing
    * commits and the result is None. */
  private def commitWithRebase(spark: SparkSession, target: String,
                               parentV: Int, newFiles: Seq[String],
                               replaced: String => Boolean,
                               recorded: org.apache.spark.sql.types.StructType,
                               reads: ReadSet,
                               meta: Map[String, String] = Map.empty,
                               dvUpdates: Map[String, String] = Map.empty,
                               staleAt: Int => Boolean = _ => false)
      : Option[Committed] = {
    val sCols = statsColumns(target, Some(parentV)).filter(c =>
      recorded.fields.exists(f => f.name == c && tagOf(f.dataType).isDefined))
    val (bCols, fpp) = inheritedBloom(target, parentV)
    val (fresh, blooms) = freshStatsAndBlooms(spark, target, newFiles,
      sCols, bCols, fpp, recorded)
    var head = parentV
    var rebases = 0
    while (true) {
      if (staleAt(head)) return None
      try {
        val v = assembleAndCommit(spark, target,
          (liveFiles(target, Some(head)).filterNot(replaced) ++
            newFiles).distinct,
          head, meta, fresh, blooms, sCols, recorded, bCols, fpp, dvUpdates)
        return Some(Committed(v, rebases))
      } catch {
        case cme: java.util.ConcurrentModificationException =>
          val newHead = currentVersion(target).getOrElse(throw cme)
          if (!rebaseSafe(target, parentV, newHead, reads.candidates,
              reads.affected, reads.candidatesAt)) throw cme
          head = newHead
          rebases += 1
      }
    }
    None // unreachable
  }

  /** The one CAS-loss REPLAY every verb shares: run `attempt` at `pin`
    * (None = head); when it loses the manifest CAS to a rival that
    * [[commitWithRebase]] could not rebase over, replay it up to
    * `maxRetries` more times against the FRESH head — never the stale
    * pin, which is exactly the version the rival moved past — passing
    * each replay's result through `replayed` (the verb's `recomputes`
    * count). Staged files of a lost attempt become vacuum debris. */
  private[store] def withOcc[T](maxRetries: Int, pin: Option[Int] = None)(
      attempt: Option[Int] => T)(replayed: T => T): T =
    try attempt(pin)
    catch {
      case _: java.util.ConcurrentModificationException if maxRetries > 0 =>
        replayed(withOcc(maxRetries - 1)(attempt)(replayed))
    }

  final case class AppendStats(filesTotal: Int, filesAdded: Int,
                               rowsInserted: Long,
                               recomputes: Int = 0, rebases: Int = 0)

  /** Blind APPEND: write `rows` as new files and commit them alongside
    * every live file — ZERO key probe, zero rewrite, stats on the batch
    * only. The highest-frequency verb at ingest scale: a trickle
    * producer appending to a 10⁵-file table pays O(batch) end to end
    * where [[merge]] would pay the key-bounds probe per call. The
    * caller asserts key disjointness (or doesn't care — duplicate keys
    * land as duplicate rows, exactly SQL INSERT semantics); dedup needs
    * [[merge]].
    *
    * Concurrency: the verb's READ SET is empty — it reads no data file —
    * so a lost CAS rebases onto any rival commit whose table policy
    * (schema / stats config / constraints) is unchanged, however many
    * rivals interleave: concurrent appends NEVER recompute, they
    * re-commit ([[rebaseSafe]] with no candidates and no affected
    * files). A rival policy change recomputes (`maxRetries`), re-running
    * the constraint gate against the new head.
    *
    * Batch contract mirrors strict [[merge]]: `rows` must project
    * exactly onto the table's columns (drifted producers fail loudly);
    * `numFiles > 0` repartitions the batch (size files to ~128 MB–1 GB
    * at scale), 0 keeps the incoming partitioning. */
  def append(spark: SparkSession, rows: DataFrame, target: String,
             numFiles: Int = 0, maxRetries: Int = 0,
             snapshotVersion: Option[Int] = None): AppendStats =
    withOcc(maxRetries, snapshotVersion)(
      appendOnce(spark, rows, target, numFiles, replace = false, _))(
      st => st.copy(recomputes = st.recomputes + 1))

  /** Replace the table's CONTENT with `rows` in one commit (INSERT
    * OVERWRITE): the new files become the entire live set; schema,
    * stats/bloom configuration, and constraints carry. Same empty read
    * set as [[append]] — a racing append serializes BEFORE the
    * overwrite and its rows are clobbered, which is exactly overwrite's
    * contract. */
  def overwriteTable(spark: SparkSession, rows: DataFrame, target: String,
                     numFiles: Int = 0, maxRetries: Int = 0): AppendStats =
    withOcc(maxRetries)(
      appendOnce(spark, rows, target, numFiles, replace = true, _))(
      st => st.copy(recomputes = st.recomputes + 1))

  private def appendOnce(spark: SparkSession, rows: DataFrame,
                         target: String, numFiles: Int,
                         replace: Boolean,
                         snapshotVersion: Option[Int]): AppendStats = {
    val parentV = snapshotVersion.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val tableSchema = manifestSchema(target, parentV)
    val tableCols: Seq[String] = tableSchema.fieldNames.toSeq
    val extra = rows.columns.filterNot(tableCols.contains)
    require(extra.isEmpty,
      s"append batch carries columns absent from the table " +
        s"(${extra.mkString(", ")}) — a drifted producer; evolve the " +
        "schema through merge(allowSchemaEvolution = true)")
    val projected = alignBatchTypes(
      rows.select(tableCols.map(col).toIndexedSeq: _*), tableSchema,
      "append")
    val incoming =
      (if (numFiles > 0) projected.repartition(numFiles) else projected)
        .cache()
    try {
      enforceConstraints(spark, target, parentV, incoming, "append")
      val rowsInserted = incoming.count()
      // An EMPTY batch commits nothing (no empty data file, no version
      // churn) — same idempotent-rerun contract as the merge verbs. An
      // empty OVERWRITE still commits: "replace with nothing" is a
      // real truncation.
      if (rowsInserted == 0L && !replace)
        return AppendStats(liveFiles(target, Some(parentV)).size, 0, 0L)
      val recorded = withMapping(
        unionNullability(incoming.schema, tableSchema), tableSchema)
      val newFiles = writeFiles(toPhysical(incoming, recorded), target)
      val c = commitWithRebase(spark, target, parentV, newFiles,
        if (replace) _ => true else Set.empty[String], recorded,
        BlindWrite).get
      AppendStats(liveFiles(target, Some(parentV)).size, newFiles.size,
        rowsInserted, rebases = c.rebases)
    } finally incoming.unpersist()
  }

  /** REPLACE TABLE [AS SELECT]: the table's NEXT version carries the
    * new DEFINITION whole — new schema (with any declared column
    * defaults in its field metadata), content = `df`, and the policy
    * set RESET to the statement's declarations (constraints, pk, MOR,
    * stats/bloom config, checkpoint policy, and the COPY-INTO ledger
    * all start over — SQL REPLACE semantics: nothing of the old
    * definition leaks through). HISTORY SURVIVES: this is one more
    * commit on the same manifest chain, so `VERSION AS OF` below the
    * replace still reads the OLD schema and content — Delta's REPLACE
    * TABLE, not the drop+create fallback that erases the log. An
    * empty `df` (plain REPLACE TABLE) truncates under the new schema.
    * Concurrency: the result is independent of the head (everything
    * is replaced), so a lost CAS simply re-commits at the new head. */
  def replaceTable(spark: SparkSession, df: DataFrame, target: String,
                   numFiles: Int = 0,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil,
                   bloomFpp: Double = 0.01, mor: Boolean = false,
                   pk: Seq[String] = Nil,
                   ckptFormat: Option[String] = None,
                   ckptInterval: Option[Int] = None,
                   maxRetries: Int = 3): Int = {
    require(currentVersion(target).nonEmpty,
      s"no committed version at $target — REPLACE TABLE needs an " +
        "existing table (CREATE instead)")
    ckptFormat.foreach(f => require(f == "text" || f == "parquet",
      s"graft.ckpt.format wants 'text' or 'parquet', got '$f'"))
    ckptInterval.foreach(i => require(i >= 1,
      s"graft.ckpt.interval wants an integer >= 1, got '$i'"))
    val incoming = if (numFiles > 0) df.repartition(numFiles) else df
    val schema = incoming.schema
    val sCols = statsCols.filter(c => schema.fields.exists(f =>
      f.name == c && tagOf(f.dataType).isDefined))
    val files = writeFiles(incoming, target)
    val (fresh, blooms) = freshStatsAndBlooms(spark, target, files,
      sCols, bloomCols, bloomFpp, schema)
    val sizes: Map[String, String] = files.map(f =>
      sizeKey(f) -> Files.size(dataDir(target).resolve(f)).toString).toMap
    val props = Map(SchemaKey -> schema.json) ++
      (if (sCols.nonEmpty) Map(StatsColsKey -> sCols.mkString(","))
       else Map.empty) ++
      (if (bloomCols.nonEmpty) Map(BloomColsKey -> bloomCols.mkString(","),
        BloomFppKey -> bloomFpp.toString)
       else Map.empty) ++
      (if (mor) Map(MorKey -> "true") else Map.empty) ++
      (if (pk.nonEmpty) Map(PkKey -> pk.mkString(",")) else Map.empty) ++
      ckptFormat.map(CkptFormatKey -> _) ++
      ckptInterval.map(i => CkptIntervalKey -> i.toString)
    withOcc(maxRetries)(_ => commit(target, files, currentVersion(target).get,
      props ++ sizes ++ fresh ++ blooms))(identity)
  }

  // ------------------------------------------------------------------
  // COPY INTO: idempotent bulk-file ingest (the public Delta COPY INTO
  // design). Load a glob of source files into the table EXACTLY ONCE
  // however many times the command re-runs: the dedup ledger is one
  // `cp:<url-encoded path>=<bytes> <mtime>` manifest line per ingested
  // source file, written in the SAME CAS commit as the data files (no
  // crash window between "rows landed" and "file marked loaded") and
  // carried like constraints by every later verb. Skipping re-offered
  // files is a set lookup against the memoized head state — zero
  // source reads; the ledger costs O(ingested files) manifest lines,
  // free under delta encoding once written.
  // ------------------------------------------------------------------

  private[store] val CopyPrefix = "cp:"
  private def isCopyKey(k: String): Boolean = k.startsWith(CopyPrefix)
  private def copyKey(path: String): String =
    CopyPrefix + java.net.URLEncoder.encode(path, "UTF-8")

  final case class CopyStats(filesConsidered: Int, filesLoaded: Int,
                             filesSkipped: Int, rowsLoaded: Long,
                             recomputes: Int = 0,
                             version: Option[Int] = None)

  /** COPY INTO `target` from `source` (a path or glob the table's
    * Hadoop filesystem understands — works identically against an
    * object store). Files already in the ledger are SKIPPED (pass
    * `force = true` to re-load them regardless, Delta's FORCE — rows
    * then land twice by contract); `filePattern` is a regex the file
    * NAME must fully match; `format` is any Spark batch source —
    * self-describing formats (parquet/orc) infer, text formats
    * (csv/json) read with the table's recorded schema + `options`.
    * The batch obeys the [[append]] contract: exact column projection,
    * loss-free type alignment, constraint gate, batch-only stats.
    *
    * Concurrency: empty read set like [[append]] — rival appends and
    * DISJOINT rival copies rebase (ledgers merge in the CAS); a rival
    * that ingested one of THIS call's files flips the attempt to a
    * RECOMPUTE, which re-partitions offered files against the new
    * head's ledger so every source file still lands exactly once. A
    * source file with zero live rows still ledgers (metadata-only
    * commit) — "consumed" must advance even when nothing landed. */
  def copyInto(spark: SparkSession, target: String, source: String,
               format: String = "parquet",
               filePattern: Option[String] = None,
               options: Map[String, String] = Map.empty,
               numFiles: Int = 0, force: Boolean = false,
               maxRetries: Int = 3): CopyStats = {
    val hPath = new org.apache.hadoop.fs.Path(source)
    val fsys = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pat = filePattern.map(_.r)
    val offered = Option(fsys.globStatus(hPath)).map(_.toSeq)
      .getOrElse(Seq.empty)
      .flatMap(st => if (st.isDirectory) fsys.listStatus(st.getPath).toSeq
        else Seq(st))
      .filter(_.isFile)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith(".") || n.startsWith("_")
      }
      .filter(st => pat.forall(_.matches(st.getPath.getName)))
      .sortBy(_.getPath.toString)

    def attempt(head: Int, recomputes: Int): CopyStats = {
      val ledger = manifestMeta(target, Some(head))
      val (skipped, toLoad) = offered.partition(st =>
        !force && ledger.contains(copyKey(st.getPath.toString)))
      if (toLoad.isEmpty)
        return CopyStats(offered.size, 0, skipped.size, 0L, recomputes,
          Some(head))
      val tableSchema = manifestSchema(target, head)
      val tableCols: Seq[String] = tableSchema.fieldNames.toSeq
      val reader0 = spark.read.format(format).options(options)
      val reader =
        if (format == "parquet" || format == "orc") reader0
        else reader0.schema(tableSchema)
      val raw = reader.load(toLoad.map(_.getPath.toString): _*)
      val extra = raw.columns.filterNot(tableCols.contains)
      require(extra.isEmpty,
        s"COPY INTO batch carries columns absent from the table " +
          s"(${extra.mkString(", ")}) — fix the source or evolve the " +
          "schema first")
      val projected = alignBatchTypes(
        raw.select(tableCols.map(col).toIndexedSeq: _*), tableSchema,
        "copyInto")
      val incoming =
        (if (numFiles > 0) projected.repartition(numFiles) else projected)
          .cache()
      try {
        enforceConstraints(spark, target, head, incoming, "copyInto")
        val rowsLoaded = incoming.count()
        val recorded = withMapping(
          unionNullability(incoming.schema, tableSchema), tableSchema)
        val newFiles =
          if (rowsLoaded == 0L) Seq.empty[String]
          else writeFiles(toPhysical(incoming, recorded), target)
        val ledgerLines: Map[String, String] = toLoad.map(st =>
          copyKey(st.getPath.toString) ->
            s"${st.getLen} ${st.getModificationTime}").toMap
        val committed = commitWithRebase(spark, target, head, newFiles,
          Set.empty[String], recorded, BlindWrite, meta = ledgerLines,
          staleAt = h => h != head && !force && {
            val lm = manifestMeta(target, Some(h))
            toLoad.exists(st =>
              lm.contains(copyKey(st.getPath.toString)))
          })
        committed match {
          case Some(c) =>
            CopyStats(offered.size, toLoad.size, skipped.size,
              rowsLoaded, recomputes, Some(c.version))
          case None =>
            // A rival ingested one of this attempt's files mid-race:
            // replay the whole plan against the new head's ledger
            // (this attempt's staged files become vacuum debris).
            require(recomputes < maxRetries,
              s"COPY INTO lost $maxRetries ledger races at $target — " +
                "retry when the rival ingest settles")
            attempt(currentVersion(target).get, recomputes + 1)
        }
      } finally incoming.unpersist()
    }

    withOcc(maxRetries)(_ => attempt(currentVersion(target).getOrElse(
      sys.error(s"no committed version at $target — COPY INTO needs an " +
        "existing table (CREATE it first)")), 0))(
      st => st.copy(recomputes = st.recomputes + 1))
  }

  /** MERGE `updates` into the table on `pk` (incoming wins; within the
    * batch the highest `ordCols` wins, like CoreStore's intra-batch
    * order). Rewrites only the files containing matched keys. This is
    * [[applyChanges]] with no delete side and no marker: the same
    * upsert body runs one pruned key probe whose single grouped collect
    * yields the rewrite set, `rowsUpdated` (live rows whose key the
    * batch upserts) and `rowsInserted` (batch keys the table lacks).
    * `allowSchemaEvolution` appends batch columns the table lacks
    * (Delta's mergeSchema); off, the batch must project exactly onto
    * the table's columns, batch-only `ordCols` excepted.
    *
    * Multi-writer safe via optimistic concurrency: the whole merge reads
    * ONE pinned snapshot version (never "the newest", which another
    * writer may advance mid-merge), and the final [[commit]] is a CAS on
    * that snapshot. A lost race first tries a REBASE: when every rival
    * commit is provably file-disjoint from this merge's read set
    * ([[rebaseSafe]] — manifest-only check), the already-computed result
    * re-commits onto the new head with the probe and rewrite having run
    * exactly once, so key-disjoint concurrent writers never serialize
    * into recompute chains. On true overlap the race throws
    * ConcurrentModificationException — or, with `maxRetries > 0`,
    * transparently RECOMPUTES the merge against the new head (the data
    * files staged for the lost attempt become orphans, reclaimed by
    * [[vacuum]]): an upsert's result depends on the head's row versions,
    * so replay is the only generally-correct resolution there. */
  def merge(spark: SparkSession, updates: DataFrame, target: String,
            pk: Seq[String], ordCols: Seq[String] = Nil,
            maxRetries: Int = 0,
            snapshotVersion: Option[Int] = None,
            allowSchemaEvolution: Boolean = false): MergeStats =
    withOcc(maxRetries, snapshotVersion) { pin =>
      val u = upsertOnce(spark, target, updates, None, pk, ordCols,
        Map.empty, pin, None, allowSchemaEvolution, "merge")
      MergeStats(u.stats.filesTotal, u.stats.filesRewritten, u.rowsInserted,
        u.rowsUpdated, rebases = u.stats.rebases)
    }(st => st.copy(recomputes = st.recomputes + 1))

  /** The keyed-batch prologue of the upsert and the conditional merge:
    * the pinned parent version (the head when `pin` is None), its live
    * files, and `batch` minus NULL-keyed rows with one row per `pk` —
    * the highest `ordCols` wins, else the last row. */
  private def keyedBatch(target: String, batch: DataFrame, pk: Seq[String],
                         ordCols: Seq[String], pin: Option[Int])
      : (Int, Seq[String], DataFrame) = {
    val parentV = pin.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val ord = if (ordCols.nonEmpty) ordCols.map(col)
      else Seq(monotonically_increasing_id())
    (parentV, liveFiles(target, Some(parentV)), Upsert.dedupByKey(
      batch.where(pk.map(col(_).isNotNull).reduce(_ && _)), pk, ord))
  }

  /** MERGE with CONDITIONAL and COLUMN-LIST actions — the Delta/Iceberg
    * `WHEN MATCHED [AND cond] THEN UPDATE SET c = e, ...` /
    * `WHEN NOT MATCHED THEN INSERT (cols) VALUES (...)` family that
    * plain [[merge]] (full-row, incoming-always-wins) can't express.
    * Expressions reference the target row as `t.<col>` and the source
    * row as `s.<col>` (`functions.expr("s.ts > t.ts")`) — the SQL
    * route maps the statement's own aliases onto t/s.
    *
    * Semantics (SQL MERGE):
    *   - matched (pk in both): the FIRST `matchedActions` clause whose
    *     condition holds (false/NULL falls through) applies, in
    *     declaration order — [[MatchedUpdate]] rewrites per its
    *     assignments (`None` = `UPDATE SET *`; unassigned columns keep
    *     the target value), [[MatchedDelete]] removes the row. A
    *     matched row no clause claims survives UNCHANGED. The
    *     multi-clause form is the canonical CDC-apply statement
    *     (`WHEN MATCHED AND s.del THEN DELETE WHEN MATCHED THEN
    *     UPDATE SET *`). An empty `matchedActions` leaves every
    *     matched row unchanged.
    *   - unmatched source: routed to the FIRST `insertClauses` entry
    *     whose condition holds (same order contract), inserting per
    *     its values map (`None` = `INSERT *`, unassigned columns
    *     NULL); a row no clause claims is dropped, so an empty
    *     `insertClauses` inserts nothing.
    *   - unmatched target rows: untouched — unless a
    *     `notMatchedBySource` action is given (SQL's `WHEN NOT MATCHED
    *     BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...`): target
    *     rows with NO source match where its condition holds are
    *     deleted (`assignments = None`) or updated per assignments;
    *     condition false/NULL keeps. BySource expressions use BARE
    *     target column names (only the target row is in scope).
    * Assigned values CAST to the table column's type (SQL
    * store-assignment), so `SET price = price * 1.1` can't silently
    * widen the table.
    *
    * Same COW shape, read set, and OCC story as [[merge]]: candidates
    * from the batch's key bounds, only files holding a matched pk
    * rewrite (a file whose matches all FAIL the condition still
    * rewrites — the probe reads pk columns only, deliberately), lost
    * CAS rebases when provably file-disjoint else recomputes with
    * `maxRetries`. A bySource action widens the read set to the files
    * its condition can touch (stats-pruned; the WHOLE table when
    * unconditioned — inherent to the semantics), but rewrites only
    * files holding a row the action actually changes. */
  def mergeConditional(spark: SparkSession, source: DataFrame,
                       target: String, pk: Seq[String],
                       matchedActions: Seq[MatchedAction],
                       insertClauses: Seq[InsertClause],
                       notMatchedBySource: Option[BySourceAction] = None,
                       ordCols: Seq[String] = Nil,
                       maxRetries: Int = 0,
                       snapshotVersion: Option[Int] = None): MergeStats =
    withOcc(maxRetries, snapshotVersion)(mergeConditionalOnce(spark, source,
      target, pk, matchedActions, insertClauses, notMatchedBySource,
      ordCols, _))(st => st.copy(recomputes = st.recomputes + 1))

  /** `WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE`
    * (`assignments = None`) `| UPDATE SET c = e, ...` (assignments
    * map). Expressions reference the target row by BARE column name. */
  final case class BySourceAction(
      condition: Option[org.apache.spark.sql.Column],
      assignments: Option[Map[String, org.apache.spark.sql.Column]])

  /** One `WHEN MATCHED [AND condition] THEN ...` clause. Clauses are
    * evaluated IN ORDER per matched row — the first whose condition
    * holds (false/NULL falls through) applies; a row no clause claims
    * keeps its target version. All but the last clause must carry a
    * condition (later clauses would be unreachable) — the Delta MERGE
    * contract. Expressions reference the pair through the `t` / `s`
    * aliases. */
  sealed trait MatchedAction {
    def condition: Option[org.apache.spark.sql.Column]
  }
  /** `UPDATE SET c = e, ...`; `assignments = None` is `UPDATE SET *`
    * (every column takes `s.<c>`); unassigned columns keep the target
    * value. */
  final case class MatchedUpdate(
      condition: Option[org.apache.spark.sql.Column],
      assignments: Option[Map[String, org.apache.spark.sql.Column]])
    extends MatchedAction
  /** `DELETE` — the matched target row is removed. */
  final case class MatchedDelete(
      condition: Option[org.apache.spark.sql.Column])
    extends MatchedAction

  /** One `WHEN NOT MATCHED [AND condition] THEN INSERT ...` clause —
    * same order contract as the matched clauses (first true condition
    * wins per unmatched source row; all but the last clause must be
    * conditioned). `values = None` is `INSERT *`; a values map
    * NULL-fills unassigned columns. Conditions and values reference
    * the source row (`s.<col>` or bare names). */
  final case class InsertClause(
      condition: Option[org.apache.spark.sql.Column],
      values: Option[Map[String, org.apache.spark.sql.Column]])

  private def mergeConditionalOnce(spark: SparkSession, source: DataFrame,
      target: String, pk: Seq[String],
      actions: Seq[MatchedAction],
      inserts: Seq[InsertClause],
      notMatchedBySource: Option[BySourceAction],
      ordCols: Seq[String],
      snapshotVersion: Option[Int]): MergeStats = {
    // Delta's multi-clause contract: clauses run in order, first true
    // condition wins, so an unconditioned clause anywhere but last
    // makes its successors unreachable — refuse the statement.
    actions.dropRight(1).zipWithIndex.foreach { case (a, i) =>
      require(a.condition.isDefined,
        s"WHEN MATCHED action ${i + 1} of ${actions.size} carries no " +
          "condition — every matched action but the last needs one " +
          "(later actions would be unreachable)")
    }
    inserts.dropRight(1).zipWithIndex.foreach { case (c, i) =>
      require(c.condition.isDefined,
        s"WHEN NOT MATCHED action ${i + 1} of ${inserts.size} carries " +
          "no condition — every insert clause but the last needs one " +
          "(later clauses would be unreachable)")
    }
    val (parentV, before, deduped) =
      keyedBatch(target, source, pk, ordCols, snapshotVersion)
    val tableSchema = manifestSchema(target, parentV)
    val tableCols = tableSchema.fieldNames.toSeq
    def toTableType(c: org.apache.spark.sql.Column, name: String) =
      c.cast(nullableForm(tableSchema(name).dataType)).as(name)
    (actions.collect { case MatchedUpdate(_, Some(m)) => m } ++
        inserts.flatMap(_.values) ++
        notMatchedBySource.flatMap(_.assignments).toSeq).flatten(_.keys)
      .foreach { c => require(tableCols.contains(c),
        s"assignment target '$c' is not a column of $target " +
          s"(${tableCols.mkString(", ")})") }
    // An insert column list that skips a key column would land
    // NULL-keyed rows (which every key-probing verb then ignores) —
    // refuse instead of silently inserting unreachable rows.
    inserts.flatMap(_.values).foreach { m =>
      val missingPk = pk.filterNot(m.contains)
      require(missingPk.isEmpty,
        s"INSERT column list must assign every key column; missing: " +
          s"${missingPk.mkString(", ")}")
    }
    val src = deduped.cache()
    try {
      // Affected-file probe — the matched side reads like [[merge]].
      // With NO matched action (insert/bySource-only statements) the
      // matched files never change, so they never enter the rewrite
      // set; liveKeys still feeds the insert anti-join.
      val keyCandidates = pruneByKeyBounds(target, parentV, before,
        src.select(pk.map(col): _*), pk)
      val liveKeys = probeScan(spark, target, parentV, keyCandidates, pk)
      val matchAffected =
        if (actions.isEmpty) Set.empty[String]
        else liveKeys.join(src, pk, "left_semi")
          .select("__file").distinct()
          .collect().map(_.getString(0)).toSet
      // BySource side: its condition stats-prunes the candidate files
      // (an unconditioned action reads the whole table — inherent),
      // but the REWRITE set is only the files holding a row the action
      // actually changes (unmatched ∧ condition), found by one
      // column-pruned scan.
      def bsCandidatesAt(v: Int, fs: Seq[String]): Seq[String] =
        notMatchedBySource match {
          case None => Nil
          case Some(a) => a.condition
            .map(c => pruneByPredicate(spark, target, v, fs, c))
            .getOrElse(fs)
        }
      val bsCandidates = bsCandidatesAt(parentV, before)
      val bsHit = notMatchedBySource.map(a =>
        a.condition.map(c => coalesce(c, lit(false))).getOrElse(lit(true)))
      val bsAffected: Set[String] = notMatchedBySource match {
        case None => Set.empty
        case Some(_) =>
          readSubsetWithPos(spark, target, parentV, bsCandidates)
            .join(src, pk, "left_anti").where(bsHit.get)
            .select("__file").distinct()
            .collect().map(_.getString(0)).toSet
      }
      val candidates = (keyCandidates ++ bsCandidates).distinct
      val affected = matchAffected ++ bsAffected

      val affectedRows = readSubset(spark, target, parentV,
        affected.toSeq.sorted)
      val pairs = affectedRows.alias("t").join(src.alias("s"),
        pk.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
        "inner")
      // Per matched pair: the index of the FIRST action whose
      // condition holds (false/NULL falls through), -1 = no action
      // claims the row (it keeps its target version). One expression,
      // evaluated once per row — clause order is Delta's contract.
      val hit = actions.map(a =>
        a.condition.map(c => coalesce(c, lit(false))).getOrElse(lit(true)))
      val actIdx = hit.zipWithIndex.foldRight(lit(-1)) {
        case ((h, i), els) => when(h, lit(i)).otherwise(els)
      }
      val pairsAct = pairs.withColumn("__act", actIdx)
      val updatedFrames = actions.zipWithIndex.collect {
        case (MatchedUpdate(_, assign), i) =>
          pairsAct.where(col("__act") === i).select(tableCols.map { c =>
            toTableType(assign match {
              case None => col(s"s.$c") // UPDATE SET *
              case Some(m) => m.getOrElse(c, col(s"t.$c"))
            }, c)
          }.toIndexedSeq: _*)
      }
      // Rows a MatchedDelete claims simply never enter the replacement.
      val keptMatched = pairsAct.where(col("__act") === -1)
        .select(tableCols.map(c => col(s"t.$c").as(c)).toIndexedSeq: _*)
      val unmatchedRaw = affectedRows.join(src, pk, "left_anti")
      // WHEN NOT MATCHED BY SOURCE: delete or update the unmatched
      // target rows its condition hits; the rest carry unchanged.
      val (unmatchedTarget, updatedBsOpt) =
        notMatchedBySource match {
          case None => (unmatchedRaw, None)
          case Some(a) =>
            val kept = unmatchedRaw.where(!bsHit.get)
              .select(tableCols.map(col).toIndexedSeq: _*)
            a.assignments match {
              case None => (kept, None) // DELETE
              case Some(m) =>
                val updatedBs = unmatchedRaw.alias("t").where(bsHit.get)
                  .select(tableCols.map(c =>
                    toTableType(m.getOrElse(c, col(s"t.$c")), c))
                    .toIndexedSeq: _*)
                (kept.unionByName(updatedBs), Some(updatedBs))
            }
        }
      val srcCols = src.columns.toSet
      // Unmatched source rows route to the FIRST insert clause whose
      // condition holds (same clause-order contract as the matched
      // side); a row no clause claims is dropped.
      val inserted =
        if (inserts.isEmpty) affectedRows.limit(0)
          .select(tableCols.map(col).toIndexedSeq: _*)
        else {
          val insHit = inserts.map(c =>
            c.condition.map(x => coalesce(x, lit(false)))
              .getOrElse(lit(true)))
          val insIdx = insHit.zipWithIndex.foldRight(lit(-1)) {
            case ((h, i), els) => when(h, lit(i)).otherwise(els)
          }
          val unmatchedSrc = src.alias("s")
            .join(liveKeys, pk, "left_anti").withColumn("__ins", insIdx)
          inserts.zipWithIndex.map { case (cl, i) =>
            unmatchedSrc.where(col("__ins") === i)
              .select(tableCols.map { c =>
                toTableType(cl.values match {
                  case None =>
                    require(srcCols.contains(c),
                      s"INSERT * needs source column '$c' (absent from " +
                        "the batch) — use a values map to assign a subset")
                    col(s"s.$c")
                  case Some(m) => m.getOrElse(c, defaultFill(tableSchema(c)))
                }, c)
              }.toIndexedSeq: _*)
          }.reduce(_.unionByName(_))
        }
      // ONE tagged-count job for every stat the verb reports — matched
      // rows per action, bySource hits, inserts — instead of a count
      // job per frame re-reading the affected-file subset each time.
      val mTags = pairsAct.where(col("__act") =!= -1)
        .select(concat(lit("m"), col("__act").cast("string")).as("__tag"))
      val bsTags = notMatchedBySource.map(a => unmatchedRaw
        .where(bsHit.get)
        .select(lit(if (a.assignments.isEmpty) "bd" else "bu")
          .as("__tag")))
      val iTags = inserted.select(lit("i").as("__tag"))
      val counts: Map[String, Long] =
        (Seq(mTags) ++ bsTags.toSeq :+ iTags).reduce(_.unionByName(_))
          .groupBy("__tag").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      def actCount(p: MatchedAction => Boolean): Long =
        actions.zipWithIndex.collect { case (a, i) if p(a) =>
          counts.getOrElse(s"m$i", 0L) }.sum
      val rowsUpdated = actCount(_.isInstanceOf[MatchedUpdate]) +
        counts.getOrElse("bu", 0L)
      val rowsDeleted = actCount(_.isInstanceOf[MatchedDelete]) +
        counts.getOrElse("bd", 0L)
      val rowsInserted = counts.getOrElse("i", 0L)
      enforceConstraints(spark, target, parentV,
        (updatedFrames ++ updatedBsOpt.toSeq :+ inserted)
          .reduce(_.unionByName(_)), "mergeConditional")

      val replacement =
        (Seq(unmatchedTarget, keptMatched) ++ updatedFrames :+ inserted)
          .reduce(_.unionByName(_))
      val recorded = withMapping(
        unionNullability(replacement.schema, tableSchema), tableSchema)
      // True no-op: nothing matched, nothing to insert → no commit.
      if (affected.isEmpty && rowsInserted == 0L)
        return MergeStats(before.size, 0, 0L, 0L)
      val newFiles =
        if (affected.isEmpty) writeFiles(
          toPhysical(inserted, recorded), target)
        else writeFiles(toPhysical(replacement.repartition(
          math.max(1, affected.size)), recorded), target)
      val c = commitWithRebase(spark, target, parentV, newFiles, affected,
        recorded, ReadSet(candidates, affected,
          (v, fs) => (pruneByKeyBounds(target, v, fs,
            src.select(pk.map(col): _*), pk) ++ bsCandidatesAt(v, fs))
            .distinct)).get
      MergeStats(before.size, affected.size, rowsInserted, rowsUpdated,
        rowsDeleted = rowsDeleted, rebases = c.rebases)
    } finally src.unpersist()
  }

  /** DELETE by key set: remove every row whose `pk` appears in `keys` —
    * the compliance-delete (GDPR / takedown) a production training-data
    * store needs and the one MERGE verb the upsert-only reference never
    * had. Same file-granular COW shape as [[merge]]: semi-join `keys`
    * against the pinned snapshot to find the files holding doomed rows,
    * rewrite ONLY those files anti-joined (their surviving rows), and
    * CAS-commit the new file set. A file whose every row dies is simply
    * dropped from the manifest — no replacement write at all.
    *
    * Multi-writer safe by the same optimistic protocol as merge: lost
    * CAS ⇒ ConcurrentModificationException, or transparent recompute
    * against the new head with `maxRetries > 0`. Deleting keys that are
    * not in the table is a no-op for those keys (idempotent reruns).
    *
    * Scale: `keys` is the removal-request batch (small vs the table);
    * it drives one semi-join shuffle bounded by the affected files'
    * rows, never a full-table rewrite. Range clustering ([[init]]'s
    * `clusterBy`) keeps a key-local removal batch touching few files. */
  def delete(spark: SparkSession, target: String, keys: DataFrame,
             pk: Seq[String], maxRetries: Int = 0,
             snapshotVersion: Option[Int] = None): DeleteStats =
    deleteByKeys(spark, target, keys, pk, maxRetries, snapshotVersion,
      mor = false)

  /** DELETE by predicate (`DELETE FROM t WHERE p`): rows where `predicate`
    * is TRUE die; NULL and FALSE survive (SQL DELETE semantics). Same COW
    * rewrite + CAS commit as the key form. The affected-file probe is
    * manifest-pruned by the bounds the predicate IMPLIES on stats columns
    * (the implied-bounds extraction) before any file opens, and the predicate is
    * pushed into the remaining scan (parquet row-group min/max). */
  def deleteWhere(spark: SparkSession, target: String,
                  predicate: org.apache.spark.sql.Column,
                  maxRetries: Int = 0,
                  snapshotVersion: Option[Int] = None): DeleteStats =
    deleteByPredicate(spark, target, predicate, maxRetries,
      snapshotVersion, mor = false)

  private def deleteByKeys(spark: SparkSession, target: String,
                           keys: DataFrame, pk: Seq[String],
                           maxRetries: Int, pin: Option[Int],
                           mor: Boolean): DeleteStats = {
    require(pk.nonEmpty, s"delete at $target needs a key")
    val keyRows = keys.select(pk.map(col): _*)
      .where(pk.map(col(_).isNotNull).reduce(_ && _)).distinct()
    withOcc(maxRetries, pin)(p => rowLevel(spark, target, p, mor,
      (v, fs) => pruneByKeyBounds(target, v, fs, keyRows, pk),
      Erase(_.join(keyRows, pk, "left_semi"),
        _.join(keyRows, pk, "left_anti")),
      DeleteStats(_, _, _, 0, _)))(
      st => st.copy(recomputes = st.recomputes + 1))
  }

  private def deleteByPredicate(spark: SparkSession, target: String,
                                predicate: org.apache.spark.sql.Column,
                                maxRetries: Int, pin: Option[Int],
                                mor: Boolean): DeleteStats = {
    val doomed = coalesce(predicate, lit(false))
    withOcc(maxRetries, pin)(p => rowLevel(spark, target, p, mor,
      (v, fs) => pruneByPredicate(spark, target, v, fs, predicate),
      Erase(_.where(doomed), _.where(!doomed)),
      DeleteStats(_, _, _, 0, _)))(
      st => st.copy(recomputes = st.recomputes + 1))
  }

  /** What a row-level verb does to the rows it matches: the per-file
    * action of [[rowLevel]]. */
  private sealed trait RowEdit
  /** DELETE: `doomed` keeps the matched rows of a probe, `survivors`
    * the rows a copy-on-write rewrite of an affected file keeps. */
  private final case class Erase(doomed: DataFrame => DataFrame,
                                 survivors: DataFrame => DataFrame)
    extends RowEdit
  /** UPDATE: `set` applies where `matched` holds; every SET expression
    * sees the OLD row. */
  private final case class Assign(matched: org.apache.spark.sql.Column,
                                  set: Map[String, org.apache.spark.sql.Column])
    extends RowEdit

  /** The one row-level DML core behind DELETE and UPDATE, copy-on-write
    * and merge-on-read alike (Delta's design: two actions of one path):
    *
    *   1. candidate files: `candidatesAt` prunes by the key batch's
    *      bounds or the bounds the predicate implies — the same value
    *      re-derives the candidates at a moved head for the rebase check;
    *   2. one DV-applied probe ([[readSubsetWithPos]]) finds the matched
    *      rows that are ALIVE, each with its (file, position);
    *   3. per affected file one action: REWRITE (COW — the survivors, or
    *      the `when(matched, e)` projection) or MARK (MOR — a deletion-
    *      vector sidecar unioned with the parent's, plus the post-SET
    *      images appended for an update);
    *   4. the one commit tail, [[commitWithRebase]].
    *
    * The full-table plan is never built: constructing it lists every
    * live file (an object-store HEAD per path at 100 TB), so the schema
    * comes from the manifest and the probe and rewrite read candidate
    * files by name. Nothing matched: no commit. Returns
    * `stats(filesTotal, filesTouched, rows, rebases)`. */
  private def rowLevel[T](spark: SparkSession, target: String,
                          pin: Option[Int], mor: Boolean,
                          candidatesAt: (Int, Seq[String]) => Seq[String],
                          edit: RowEdit,
                          stats: (Int, Int, Long, Int) => T): T = {
    val parentV = pin.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val before = liveFiles(target, Some(parentV))
    val schema = manifestSchema(target, parentV)
    edit match {
      case Assign(_, set) =>
        val unknown = set.keySet -- schema.fieldNames.toSet
        require(unknown.isEmpty,
          s"UPDATE SET references columns not in $target: " +
            unknown.toSeq.sorted.mkString(", "))
      case _: Erase => ()
    }
    val candidates = candidatesAt(parentV, before)
    if (candidates.isEmpty) return stats(before.size, 0, 0L, 0)
    // A DELETE keeps only the matches' (file, position); an UPDATE
    // keeps the whole rows its SET projects.
    val probe = readSubsetWithPos(spark, target, parentV, candidates)
    val hit = (edit match {
      case Erase(doomed, _) => doomed(probe).select("__file", "__pos")
      case Assign(matched, _) => probe.where(matched)
    }).cache()
    try {
      val affected = hit.select("__file").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      if (affected.isEmpty) return stats(before.size, 0, 0L, 0)
      val rows = hit.count()
      // Constraints see the post-SET image of exactly the matched rows
      // (bystanders carried verbatim were already valid).
      val postSet = edit match {
        case Assign(_, set) =>
          val updated = hit.select(schema.fields.map { f =>
            set.get(f.name).map(_.cast(f.dataType).as(f.name))
              .getOrElse(col(f.name))
          }.toSeq: _*)
          enforceConstraints(spark, target, parentV, updated,
            if (mor) "updateWhereMor" else "updateWhere")
          Some(updated)
        case _: Erase => None
      }
      // New files are sized by the affected volume: a broad verb must
      // never funnel its whole write through one task/file.
      def write(df: DataFrame): Seq[String] = writeFiles(toPhysical(
        df.repartition(math.max(1, affected.size)), schema), target)
      val (newFiles, dvUpdates) =
        if (mor) {
          // MARK. Each affected file's new sidecar = its existing
          // positions (superseding the old sidecar — readers join ONE
          // table) ∪ the fresh marks; disjoint by construction (the
          // matched rows were alive).
          val existing = dvMeta(target, Some(parentV))
            .filter { case (f, _) => affected.contains(f) }
          val marks = hit.select(col("__file").as("__gdvf"),
            col("__pos").as("__gdvp"))
          val dv = writeDvSidecars(spark, target,
            if (existing.isEmpty) marks
            else marks.unionByName(dvPositions(spark, target, existing)),
            affected, parentV + 1)
          (postSet.map(write).getOrElse(Nil), dv)
        } else {
          // REWRITE the affected files, read BY NAME — never a post-scan
          // file-name filter over the whole table. Untouched rows in them
          // re-write verbatim (COW granularity is the file, not the row).
          val kept = readSubset(spark, target, parentV, affected)
          val rewritten = edit match {
            case Erase(_, survivors) =>
              // A fully-dead file set writes nothing: the manifest just
              // drops it.
              val s = survivors(kept)
              if (s.isEmpty) Nil else write(s)
            case Assign(matched, set) => write(kept.select(
              schema.fields.map { f =>
                set.get(f.name) match {
                  case Some(e) =>
                    when(matched, e.cast(f.dataType)).otherwise(col(f.name))
                      .as(f.name)
                  case None => col(f.name)
                }
              }.toSeq: _*))
          }
          (rewritten, Map.empty[String, String])
        }
      // File-disjoint rebase: a rival that touched other files gets this
      // result re-committed onto its head. One that rewrote a candidate
      // or moved its dv: line recomputes — a MOR sidecar unioned the
      // PARENT's positions.
      val c = commitWithRebase(spark, target, parentV, newFiles,
        if (mor) Set.empty[String] else affected.toSet, schema,
        ReadSet(candidates, affected.toSet, candidatesAt),
        dvUpdates = dvUpdates).get
      stats(before.size, affected.size, rows, c.rebases)
    } finally hit.unpersist()
  }

  /** Conservative per-column bound constraints IMPLIED by a predicate
    * ([[boundsOfExpressions]]'s contract): only top-level AND conjuncts
    * comparing a bare column to a literal contribute (=, <, <=, >, >=,
    * both operand orders; BETWEEN arrives pre-desugared to >= AND <=).
    * Everything else — ORs, function calls, column-to-column compares,
    * IN — adds no constraint. Each extracted bound is a logical
    * consequence of the predicate, so a file whose stats exclude it
    * cannot hold a matching row: pruning with these is a guaranteed
    * SUPERSET of the true match set, and every caller still applies
    * the exact predicate. The verb path resolves its `Column` via the
    * PUBLIC analyze-a-zero-row-filter route inside
    * [[pruneByPredicate]]; analysis also type-coerces literals to the
    * column type, so bound values land encodable.
    *
    * The extraction over already-resolved Catalyst expressions — the
    * shared core for the verb path (which resolves a
    * `Column` by analysis) and [[GraftFileIndex]] (whose `listFiles`
    * receives resolved data filters straight from FileSourceStrategy).
    * Input is a filter LIST (implicitly conjunctive, the planner's
    * split-conjunct shape); nested ANDs re-split. */
  private[store] def boundsOfExpressions(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, Option[Any], Option[Any])] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def lv(e: ce.Expression): Option[Any] =
      if (!e.foldable) None
      else try Option(CatalystTypeConverters.convertToScala(
        e.eval(ce.EmptyRow), e.dataType))
      catch { case _: Throwable => None }
    def name(e: ce.Expression): Option[String] = e match {
      // Bare column only — a Cast over the COLUMN changes compare
      // semantics, so it contributes no constraint.
      case a: ce.AttributeReference => Some(a.name)
      case _ => None
    }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    exprs.flatMap(conjuncts).flatMap {
      case ce.EqualTo(a, l) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), Some(v))))
      case ce.EqualTo(l, a) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), Some(v))))
      case ce.GreaterThan(a, l) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), None)))
      case ce.GreaterThanOrEqual(a, l) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), None)))
      case ce.LessThan(a, l) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, None, Some(v))))
      case ce.LessThanOrEqual(a, l) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, None, Some(v))))
      case ce.GreaterThan(l, a) if l.foldable => // lit > col == col < lit
        name(a).flatMap(c => lv(l).map(v => (c, None, Some(v))))
      case ce.GreaterThanOrEqual(l, a) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, None, Some(v))))
      case ce.LessThan(l, a) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), None)))
      case ce.LessThanOrEqual(l, a) if l.foldable =>
        name(a).flatMap(c => lv(l).map(v => (c, Some(v), None)))
      case _ => None
    }
  }

  /** Prune `files` by every implied-bounds constraint of `predicate`
    * that lands on a stats column — folded one constraint at a time, so
    * repeated bounds on one column intersect without typed value
    * comparisons. No stats, no constraint, or an extraction miss all
    * degrade to "every file stays a candidate". */
  private def pruneByPredicate(spark: SparkSession, target: String,
                               parentV: Int, files: Seq[String],
                               predicate: org.apache.spark.sql.Column)
      : Seq[String] = {
    val sColsEarly = statsColumns(target, Some(parentV))
    if (sColsEarly.isEmpty) return files // no stats: skip the analysis too
    val schemaPlan = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      manifestSchema(target, parentV))
    // The same analyzed condition serves both extractions: value
    // bounds for min/max lines, nullness for null-count lines (a
    // DELETE WHERE c IS NULL against a mostly-complete table prunes
    // to the files that actually hold nulls).
    val root =
      try schemaPlan.limit(0).where(predicate).queryExecution.analyzed
        .collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition
        }
      catch { case _: Throwable => None }
    val exprs = root.toSeq
    pruneByNullness(target, parentV,
      pruneByConstraints(target, parentV, files, boundsOfExpressions(exprs)),
      nullnessOfExpressions(exprs))
  }

  /** Fold [[boundsOfExpressions]] constraints over the manifest stats —
    * one constraint at a time, so repeated bounds on one column
    * intersect without typed value comparisons. No stats, no
    * constraint, or an un-encodable literal all degrade to "every file
    * stays a candidate". */
  private[store] def pruneByConstraints(
      target: String, parentV: Int, files: Seq[String],
      constraints: Seq[(String, Option[Any], Option[Any])])
      : Seq[String] = {
    if (constraints.isEmpty) return files
    val sCols = statsColumns(target, Some(parentV))
    if (sCols.isEmpty) return files
    val stats = fileStatsOf(target, parentV)
    constraints.foldLeft(files) { case (fs, (c, lo, hi)) =>
      if (!sCols.contains(c) || fs.isEmpty) fs
      else stats.valuesIterator.flatMap(_.get(c)).map(_._1)
        .toSet.toList match {
        case tag :: Nil =>
          try pruneFiles(fs, stats, Map(c -> (tag,
            lo.flatMap(rawBound(tag, _)), hi.flatMap(rawBound(tag, _)))))
          catch { case _: Throwable => fs } // un-encodable literal: no prune
        case _ => fs
      }
    }
  }

  /** Equality probe values per column from resolved filter conjuncts,
    * for bloom-sidecar skipping: `c = lit` contributes `Seq(lit)`,
    * `c IN (lits...)` the literal list (ONLY when every member folds —
    * a partial list would turn the disjunction into a false prune).
    * Values land as Scala externals, [[bloomItem]]-normalizable. */
  private[store] def bloomPointsOfExpressions(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def lv(e: ce.Expression): Option[Any] =
      if (!e.foldable) None
      else try Option(CatalystTypeConverters.convertToScala(
        e.eval(ce.EmptyRow), e.dataType))
      catch { case _: Throwable => None }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    exprs.flatMap(conjuncts).flatMap {
      case ce.EqualTo(a: ce.AttributeReference, l) if l.foldable =>
        lv(l).map(v => a.name -> Seq(v))
      case ce.EqualTo(l, a: ce.AttributeReference) if l.foldable =>
        lv(l).map(v => a.name -> Seq(v))
      case ce.In(a: ce.AttributeReference, list) if list.forall(_.foldable) =>
        val vs = list.flatMap(lv)
        if (vs.size == list.size) Some(a.name -> vs) else None
      case ce.InSet(a: ce.AttributeReference, hset) =>
        val vs = hset.toSeq.flatMap(v =>
          try Option(CatalystTypeConverters.convertToScala(v, a.dataType))
          catch { case _: Throwable => None })
        if (vs.size == hset.size) Some(a.name -> vs) else None
      case _ => None
    }
  }

  /** Per-file bloom test against `values` on `colName`: keep files
    * whose sidecar MIGHT contain at least one value (no sidecar, a
    * lost sidecar, or any null/unsupported value keep the file a
    * candidate — no false negatives ever). */
  private def bloomPruneFiles(target: String,
                              meta: Map[String, String],
                              files: Seq[String], colName: String,
                              values: Seq[Any]): Seq[String] = {
    val items = values.flatMap(bloomItem)
    if (items.size != values.size) return files
    files.filter { f =>
      meta.get(bloomKey(f, colName)) match {
        case Some(name) =>
          val p = bloomsDir(target).resolve(name)
          if (!Files.exists(p)) true // lost sidecar: stay a candidate
          else {
            val in = java.nio.file.Files.newInputStream(p)
            val bf = try org.apache.spark.util.sketch.BloomFilter
              .readFrom(in)
            finally in.close()
            items.exists(bf.mightContain)
          }
        case None => true
      }
    }
  }

  /** Planning-time candidate files for a filtered scan of a version:
    * manifest min/max pruning on every bound the filters imply on a
    * stats column, then bloom-sidecar pruning on every equality/IN
    * probe of a bloom column. The [[GraftFileIndex]] `listFiles` hook —
    * a guaranteed superset of the matching files (Spark re-applies the
    * exact filters row-wise), computed from the manifest alone. */
  private[store] def candidatesForFilters(
      target: String, version: Int, files: Seq[String],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] = {
    if (filters.isEmpty || files.isEmpty) return files
    // The skipping relation's dataSchema is the PHYSICAL one (it must
    // match the files), so pushed filters name physical columns; stats
    // and bloom lines key by logical name. Physical names are unique,
    // so the translation is unambiguous.
    val ren = logicalByPhysical(manifestSchema(target, version))
    def logical(c: String): String = ren.getOrElse(c, c)
    val afterBounds = pruneByConstraints(target, version, files,
      boundsOfExpressions(filters).map { case (c, lo, hi) =>
        (logical(c), lo, hi)
      })
    val afterStats = pruneByNullness(target, version, afterBounds,
      nullnessOfExpressions(filters).map { case (c, w) => (logical(c), w) })
    val bCols = bloomColumns(target, Some(version))
    if (bCols.isEmpty || afterStats.isEmpty) afterStats
    else {
      val meta = manifestMeta(target, Some(version))
      bloomPointsOfExpressions(filters).foldLeft(afterStats) {
        case (fs, (c0, vs)) =>
          val c = logical(c0)
          if (!bCols.contains(c) || fs.isEmpty) fs
          else bloomPruneFiles(target, meta, fs, c, vs)
      }
    }
  }

  final case class UpdateStats(filesTotal: Int, filesRewritten: Int,
                               rowsUpdated: Long,
                               recomputes: Int = 0, rebases: Int = 0)

  /** UPDATE by predicate (`UPDATE t SET c = e, ... WHERE p` — the
    * compliance verb Delta/Iceberg express as copy-on-write UPDATE).
    * Rows where `predicate` is TRUE are rewritten with `set` applied;
    * NULL and FALSE rows are untouched. Every SET expression sees the
    * OLD row (SQL's simultaneous assignment: `SET a = b, b = a` swaps),
    * because the per-column `when(p, e)` projections evaluate in one
    * select over the pre-update scan. File-granular COW: the
    * affected-file probe (manifest-pruned by the predicate's
    * the implied bounds) finds files holding matching rows, only those
    * rewrite, every other file carries by reference into one manifest
    * CAS commit — so the typed [[changes]] feed shows exactly the
    * updated rows as update pre/post-image pairs and CDC followers
    * (views, replicas, indexes) advance with no special casing. SET
    * columns must already exist (schema is invariant under UPDATE —
    * evolution is merge's job); values cast to the column's declared
    * type. No matching rows: no commit, version unchanged. */
  def updateWhere(spark: SparkSession, target: String,
                  predicate: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  maxRetries: Int = 0,
                  snapshotVersion: Option[Int] = None): UpdateStats =
    updateByPredicate(spark, target, predicate, set, maxRetries,
      snapshotVersion, mor = false)

  private def updateByPredicate(spark: SparkSession, target: String,
                                predicate: org.apache.spark.sql.Column,
                                set: Map[String, org.apache.spark.sql.Column],
                                maxRetries: Int, pin: Option[Int],
                                mor: Boolean): UpdateStats = {
    require(set.nonEmpty, s"UPDATE at $target needs SET assignments")
    withOcc(maxRetries, pin)(p => rowLevel(spark, target, p, mor,
      (v, fs) => pruneByPredicate(spark, target, v, fs, predicate),
      Assign(coalesce(predicate, lit(false)), set),
      UpdateStats(_, _, _, 0, _)))(
      st => st.copy(recomputes = st.recomputes + 1))
  }

  /** RESTORE to a committed version (Delta RESTORE): publish a NEW head
    * commit whose file list is exactly `toVersion`'s — a rollback that
    * moves the table FORWARD. History keeps the rolled-back commits, so
    * pinned readers of any retained version are untouched. Zero data
    * movement: the old files are re-referenced by name (immutable since
    * their own commit), their stats/bloom lines and the version's
    * schema carry into the new manifest, and re-referencing makes them
    * live again for [[vacuum]]'s retention walk. The typed [[changes]]
    * feed across a restore commit is computed relationally from the
    * file-list diff like any other commit — rows added since
    * `toVersion` surface as deletes, reverted rows as updates — so CDC
    * followers (replicas, views, search/vector indexes) converge onto
    * the restored state with no special casing. Restoring to a
    * vacuumed version fails with the named retention error; a
    * half-vacuumed version (manifest retained, a data file already
    * reclaimed) fails loudly before committing anything.
    *
    * Progress MARKERS are deliberately NOT carried: [[markerValue]]
    * walks history newest-first, so after a restore a consumer still
    * sees the newest marker ever committed. Restoring a maintained
    * VIEW below its applied watermark therefore needs the corrected
    * marker passed via `meta` in the same commit. A replica's sync
    * marker is the exception: it names the content the table holds, so
    * the restore commit records `toVersion`'s value (empty — read as
    * unset — below the first sync), and the next [[sync]] starts from
    * the restored content. */
  def restore(spark: SparkSession, target: String, toVersion: Int,
              meta: Map[String, String] = Map.empty): Int = {
    val head = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    require(toVersion >= 0 && toVersion <= head,
      s"restore target v$toVersion outside committed history at " +
        s"$target (head v$head)")
    requireSpanReadable(target, toVersion)
    val files = liveFiles(target, Some(toVersion))
    val gone = files.filterNot(f => Files.exists(dataDir(target).resolve(f)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"restore to v$toVersion at $target impossible: data file(s) " +
          s"${gone.take(3).mkString(", ")} already vacuumed — restore " +
          "only reaches versions inside the vacuum retention window")
    // The restored state includes its deletion vectors (a row deleted
    // at toVersion stays deleted) — their sidecars must also have
    // survived retention.
    val dvGone = dvMeta(target, Some(toVersion)).values
      .filterNot(s => Files.exists(dvDir(target).resolve(s))).toSeq
    if (dvGone.nonEmpty)
      throw new IllegalStateException(
        s"restore to v$toVersion at $target impossible: deletion-vector " +
          s"sidecar(s) ${dvGone.take(3).mkString(", ")} already vacuumed " +
          "— restore only reaches versions inside the vacuum retention " +
          "window")
    val carried = manifestMeta(target, Some(toVersion)).filter { case (k, _) =>
      k == StatsColsKey || k == SchemaKey || k == BloomColsKey ||
        k == BloomFppKey || isDvKey(k) ||
        (isSizeKey(k) && files.contains(k.drop(2))) ||
        ((isStatsKey(k) || isBloomKey(k) || isNullsKey(k)) && files.contains(statsKeyFile(k)))
    }
    // Constraints and MOR routing are current POLICY, not versioned
    // data: the head's set survives the rollback (restore does not
    // re-validate restored rows — constraints gate WRITES; a restore
    // below an addConstraint can surface pre-constraint rows, exactly
    // like Delta).
    val policy = manifestMeta(target, Some(head))
      .filter { case (k, _) =>
        isConstraintKey(k) || k == MorKey || k == PkKey ||
          k == CkptFormatKey || k == CkptIntervalKey
      }
    val syncMarker =
      if (markerValue(target, SyncAppliedKey, Some(head)).isEmpty) Map.empty
      else Map(SyncAppliedKey ->
        markerValue(target, SyncAppliedKey, Some(toVersion)).getOrElse(""))
    commit(target, files, head, policy ++ carried ++ syncMarker ++ meta)
  }

  /** Zero-copy table clone (Delta CLONE): `dest` is born at v0 holding
    * exactly `source`@`version`'s rows. Data files hard-link by name —
    * same-filesystem zero-copy, safe because BOTH tables treat data
    * files as immutable and vacuum only unlinks its own directory
    * entry, so either side vacuums/compacts/mutates without touching
    * the other (the object-store variant records absolute source paths
    * in the manifest instead — Delta shallow clone — but links give
    * deep-clone semantics at shallow-clone cost here). Bloom sidecars
    * link too; stats lines and the schema carry into dest's v0
    * manifest. User metadata and progress markers stay behind: a clone
    * is a new table identity, not a follower — initialize followers
    * explicitly from the clone point. */
  def cloneTable(spark: SparkSession, source: String, dest: String,
                 version: Option[Int] = None): Unit =
    cloneWithMeta(source, dest, version, Map.empty)

  private def cloneWithMeta(source: String, dest: String,
                            version: Option[Int],
                            extraMeta: Map[String, String]): Unit = {
    val v = version.orElse(currentVersion(source))
      .getOrElse(sys.error(s"no committed version at $source"))
    requireSpanReadable(source, v)
    require(currentVersion(dest).isEmpty,
      s"clone destination $dest already has committed versions")
    val files = liveFiles(source, Some(v))
    val meta = manifestMeta(source, Some(v))
    Files.createDirectories(dataDir(dest))
    files.foreach { f =>
      val to = dataDir(dest).resolve(f)
      if (!Files.exists(to))
        Files.createLink(to, dataDir(source).resolve(f))
    }
    val carried = meta.filter { case (k, _) =>
      k == StatsColsKey || k == SchemaKey || k == BloomColsKey ||
        k == BloomFppKey || isConstraintKey(k) || k == MorKey ||
        k == PkKey || k == CkptFormatKey || k == CkptIntervalKey ||
        (isDvKey(k) && files.contains(k.stripPrefix(DvPrefix))) ||
        (isSizeKey(k) && files.contains(k.drop(2))) ||
        ((isStatsKey(k) || isBloomKey(k) || isNullsKey(k)) && files.contains(statsKeyFile(k)))
    }
    carried.foreach { case (k, sidecar) =>
      if (isBloomKey(k)) {
        val from = bloomsDir(source).resolve(sidecar)
        val to = bloomsDir(dest).resolve(sidecar)
        if (Files.exists(from) && !Files.exists(to)) {
          Files.createDirectories(bloomsDir(dest))
          Files.createLink(to, from)
        }
      } else if (isDvKey(k)) {
        val name = dvSidecarName(sidecar) // value is "<name> <n>"
        val from = dvDir(source).resolve(name)
        val to = dvDir(dest).resolve(name)
        if (Files.exists(from) && !Files.exists(to)) {
          Files.createDirectories(dvDir(dest))
          Files.createLink(to, from)
        }
      }
    }
    commit(dest, files, -1, carried ++ extraMeta)
  }

  // ------------------------------------------------------------------
  // Write-audit-publish (WAP): stage a batch of verbs on a zero-copy
  // BRANCH, audit the staged state with real queries, then publish the
  // branch head back onto the source as ONE atomic commit — or drop
  // the branch directory and nothing ever happened. The Iceberg WAP /
  // Delta shallow-clone-then-swap workflow, built from parts the store
  // already has: branch = clone + a recorded base version, publish =
  // re-link + manifest CAS against that base. At 100 TB both
  // directions are O(changed files) in data movement — ZERO bytes
  // copy; only directory entries and one manifest write.
  // ------------------------------------------------------------------

  private[store] val WapSourceKey = "wap.source"
  private[store] val WapBaseKey = "wap.base"

  /** Create an audit branch of `source`'s head: a zero-copy clone that
    * additionally records WHERE it came from and WHICH version — the
    * base the eventual publish must CAS against. Mutate it with any
    * verb; audit it with any reader; then [[publishTable]] or just
    * delete the branch directory. The `wap.*` markers are branch
    * POLICY: born on v0 and CARRIED by every verb commit (like
    * constraints), so retention maintenance on a long-lived branch —
    * a vacuum that drops the birth manifest — can never sever it from
    * its source (WapSpec publishes after exactly that). */
  def branchTable(spark: SparkSession, source: String,
                  branch: String): Int = {
    val base = currentVersion(source)
      .getOrElse(sys.error(s"no committed version at $source"))
    cloneWithMeta(source, branch, Some(base), Map(
      WapSourceKey -> Paths.get(source).toAbsolutePath.normalize.toString,
      WapBaseKey -> base.toString))
    base
  }

  /** Publish an audited branch back onto its source: the branch head's
    * file list (data files hard-linked into the source's directories —
    * names are birth-unique, shared files already exist) and its
    * schema/stats/bloom/DV/constraint metadata become the source's
    * next version in ONE manifest CAS against the RECORDED base.
    *
    * Concurrency contract: if the source advanced past the branch
    * point — a rival writer, another publish — this fails with a named
    * error BEFORE linking anything visible to readers, because a
    * publish is a whole-state swap and rebasing staged verbs onto
    * moved data is exactly the replay the branch exists to avoid:
    * re-branch from the new head and replay the verbs. A CAS loss in
    * the final commit (rival landed between the check and the link)
    * surfaces as the usual ConcurrentModificationException. The
    * `wap.*` markers stay on the branch; caller `meta` (an audit
    * stamp, a progress marker) rides the published commit. */
  def publishTable(spark: SparkSession, source: String, branch: String,
                   meta: Map[String, String] = Map.empty): Int = {
    val bHead = currentVersion(branch)
      .getOrElse(sys.error(s"no committed version at branch $branch"))
    val bMeta = manifestMeta(branch, Some(bHead))
    // The wap markers are POLICY carried on every branch commit; the
    // history-walking read still covers pre-carry branches whose
    // markers exist only on a retained birth commit.
    val recorded = markerValue(branch, WapSourceKey).getOrElse(sys.error(
      s"$branch is not a WAP branch (no $WapSourceKey marker) — " +
        "create it with branchTable"))
    val srcNorm = Paths.get(source).toAbsolutePath.normalize.toString
    require(recorded == srcNorm,
      s"branch $branch was cut from $recorded, not $srcNorm")
    val base = markerValue(branch, WapBaseKey).get.toInt
    val head = currentVersion(source)
      .getOrElse(sys.error(s"no committed version at $source"))
    if (head != base)
      throw new java.util.ConcurrentModificationException(
        s"cannot publish $branch onto $source: source advanced to " +
          s"v$head past the branch point v$base — re-branch from the " +
          "new head and replay the staged verbs (publish never " +
          "clobbers concurrent commits)")
    val files = liveFiles(branch, Some(bHead))
    // Link data + sidecars under the source BEFORE the CAS: until the
    // manifest lands, they are invisible orphans (vacuum-grace-
    // protected like any staged write); after it, they are the state.
    Files.createDirectories(dataDir(source))
    files.foreach { f =>
      val to = dataDir(source).resolve(f)
      if (!Files.exists(to))
        Files.createLink(to, dataDir(branch).resolve(f))
    }
    val published = bMeta -- Seq(WapSourceKey, WapBaseKey)
    published.foreach { case (k, sidecar) =>
      if (isBloomKey(k)) {
        val from = bloomsDir(branch).resolve(sidecar)
        val to = bloomsDir(source).resolve(sidecar)
        if (Files.exists(from) && !Files.exists(to)) {
          Files.createDirectories(bloomsDir(source))
          Files.createLink(to, from)
        }
      } else if (isDvKey(k)) {
        val name = dvSidecarName(sidecar) // value is "<name> <n>"
        val from = dvDir(branch).resolve(name)
        val to = dvDir(source).resolve(name)
        if (Files.exists(from) && !Files.exists(to)) {
          Files.createDirectories(dvDir(source))
          Files.createLink(to, from)
        }
      }
    }
    commit(source, files, base, published ++ meta)
  }

  // ------------------------------------------------------------------
  // CHECK constraints: declared data-quality invariants enforced at
  // every write verb (Delta's ALTER TABLE ADD CONSTRAINT). A
  // constraint is a SQL boolean expression stored as manifest POLICY
  // metadata (`#constraint:<name>=<expr>`), carried through every
  // commit like the schema; rows where it evaluates FALSE are
  // violations, NULL passes (SQL CHECK's unknown-is-allowed rule, so
  // NOT NULL is spelled explicitly: `c IS NOT NULL`). Enforcement
  // costs ONE aggregate over each verb's NEW row content — never a
  // table scan — and fails the verb loudly BEFORE any commit, listing
  // per-constraint violation counts.
  // ------------------------------------------------------------------

  private[store] val ConstraintPrefix = "constraint:"
  private def isConstraintKey(k: String): Boolean =
    k.startsWith(ConstraintPrefix)

  /** The table's CHECK constraints at a version: name → SQL expr. */
  def constraints(target: String,
                  version: Option[Int] = None): Map[String, String] =
    manifestMeta(target, version).collect {
      case (k, v) if isConstraintKey(k) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Add a named CHECK constraint: the EXISTING table must satisfy it
    * (one validating scan, the Delta contract), then a metadata-only
    * commit publishes it atomically — concurrent writers either
    * predate the constraint (their parent lacks it) or carry it. */
  def addConstraint(spark: SparkSession, target: String, name: String,
                    check: String): Int = {
    require(name.matches("[A-Za-z0-9_][A-Za-z0-9_-]*"),
      s"constraint name '$name' must be alphanumeric/_/-")
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    require(!constraints(target, Some(parentV)).contains(name),
      s"constraint '$name' already exists at $target")
    val viol = read(spark, target, Some(parentV))
      .where(not(coalesce(expr(check), lit(true)))).limit(3)
      .collect()
    if (viol.nonEmpty)
      throw new IllegalStateException(
        s"cannot add constraint '$name' CHECK ($check) at $target: " +
          s"existing rows violate it, e.g. ${viol.head}")
    commit(target, liveFiles(target, Some(parentV)), parentV,
      manifestMeta(target, Some(parentV)) +
        (s"$ConstraintPrefix$name" -> check))
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES as a metadata-only policy
    * commit. Supported properties: `graft.mor` (route SQL
    * UPDATE/DELETE through deletion vectors — same durable policy
    * CREATE TABLE declares), `graft.stats.cols` / `graft.bloom.cols` /
    * `graft.bloom.fpp` (skip-index policy for FUTURE writes; one
    * [[compact]] backfills existing files). `value = None` unsets.
    * Unknown properties refuse loudly — a silently-dropped policy
    * would read as applied. Column lists validate against the
    * table's recorded schema. */
  def setPolicy(target: String, property: String,
                value: Option[String]): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val key = property match {
      case "graft.mor" => MorKey
      case "graft.pk" => PkKey
      case "graft.stats.cols" => StatsColsKey
      case "graft.bloom.cols" => BloomColsKey
      case "graft.bloom.fpp" => BloomFppKey
      case "graft.ckpt.format" => CkptFormatKey
      case "graft.ckpt.interval" => CkptIntervalKey
      case other => throw new UnsupportedOperationException(
        s"table property '$other' is not a graft policy — supported: " +
          "graft.mor, graft.pk, graft.stats.cols, graft.bloom.cols, " +
          "graft.bloom.fpp, graft.ckpt.format, graft.ckpt.interval")
    }
    value.foreach { v =>
      key match {
        case MorKey => require(v == "true" || v == "false",
          s"graft.mor wants 'true' or 'false', got '$v'")
        case CkptFormatKey => require(v == "text" || v == "parquet",
          s"graft.ckpt.format wants 'text' or 'parquet', got '$v'")
        case CkptIntervalKey => require(
          v.toIntOption.exists(_ >= 1),
          s"graft.ckpt.interval wants an integer >= 1, got '$v'")
        case BloomFppKey =>
          val d = try v.toDouble catch {
            case _: NumberFormatException =>
              sys.error(s"graft.bloom.fpp wants a double in (0,1), got '$v'")
          }
          require(d > 0 && d < 1,
            s"graft.bloom.fpp wants a double in (0,1), got '$v'")
        case _ =>
          val missing = v.split(',').map(_.trim).filter(_.nonEmpty)
            .filterNot(manifestSchema(target, parentV).fieldNames.contains)
          require(missing.isEmpty,
            s"$property names column(s) not in the table's schema: " +
              missing.mkString(", "))
      }
    }
    val meta = manifestMeta(target, Some(parentV))
    commit(target, liveFiles(target, Some(parentV)), parentV,
      value.fold(meta - key)(v => meta + (key -> v)))
  }

  /** Drop a named CHECK constraint (metadata-only commit). */
  def dropConstraint(spark: SparkSession, target: String,
                     name: String): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    require(constraints(target, Some(parentV)).contains(name),
      s"no constraint '$name' at $target")
    commit(target, liveFiles(target, Some(parentV)), parentV,
      manifestMeta(target, Some(parentV)) - s"$ConstraintPrefix$name")
  }

  /** DROP COLUMN as a metadata-only commit (Delta's drop without
    * rewrite, possible because reads plan against the schema IN THE
    * LOG): the recorded schema loses the field, every reader's
    * projection excludes the physical column from that version on, and
    * rewrites gradually purge the bytes (a compaction finishes the
    * job). Time travel below the drop still shows the column. Refused
    * when the column is a stats/bloom/cluster participant or a CHECK
    * constraint references it (drop those first — a silent skip-column
    * drop would un-prune existing consumers).
    * ADD COLUMN is merge's `allowSchemaEvolution`; RENAME is
    * [[renameColumn]] (column mapping). */
  def dropColumn(spark: SparkSession, target: String,
                 colName: String): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val schema = manifestSchema(target, parentV)
    require(schema.fieldNames.contains(colName),
      s"no column '$colName' at $target")
    require(schema.fields.length > 1,
      s"cannot drop the only column of $target")
    val sCols = statsColumns(target, Some(parentV))
    val bCols = bloomColumns(target, Some(parentV))
    require(!sCols.contains(colName) && !bCols.contains(colName),
      s"column '$colName' at $target drives data skipping " +
        s"(stats=$sCols blooms=$bCols) — re-init stats/blooms without " +
        "it first")
    // Referenced columns via the same public analyze-a-zero-row-filter
    // route as pruneByPredicate (Column keeps its expression private);
    // an analysis failure degrades to a conservative substring check.
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val referencing = constraints(target, Some(parentV)).filter {
      case (_, check) =>
        try probe.limit(0).where(expr(check)).queryExecution.analyzed
          .collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSet
          }.exists(_.contains(colName))
        catch { case _: Throwable => check.contains(colName) }
    }
    require(referencing.isEmpty,
      s"column '$colName' at $target is referenced by constraint(s) " +
        s"${referencing.keys.mkString(", ")} — drop them first")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == colName))
    val meta = manifestMeta(target, Some(parentV)).filterNot { case (k, _) =>
      (isStatsKey(k) || isNullsKey(k)) && statsKeyCol(k) == colName
    } + (SchemaKey -> newSchema.json)
    commit(target, liveFiles(target, Some(parentV)), parentV, meta)
  }

  /** RENAME COLUMN as a metadata-only commit — Delta's column-mapping
    * move (Iceberg reaches the same place with field ids): the field
    * keeps its ON-DISK (physical) column name forever, recorded as
    * [[PhysicalNameKey]] metadata on the field in the manifest schema,
    * and only the LOGICAL name changes. Zero data movement at any
    * scale — a 100 TB rename is one manifest write — because every
    * reader maps physical→logical in one alias-only projection and
    * every writer maps back ([[toLogical]]/[[toPhysical]]), so carried
    * files and post-rename files stay mutually readable. Per-file
    * stats and bloom manifest lines key by logical name; this commit
    * rewrites them (and `stats.cols`/`bloom.cols`) in the SAME CAS, so
    * data skipping on the renamed column keeps working with no window
    * where keys and schema disagree. Time travel below the rename
    * shows the old name; RESTORE to a pre-rename version restores it
    * (the restored manifest's schema is authoritative); the change
    * feed across a rename commit is empty (content is identity — the
    * feed speaks the reading span's head names). Chained renames
    * compose (the physical name never moves again); renaming BACK to
    * the physical name retires the mapping entry.
    *
    * Refused when a CHECK constraint references the column (its SQL
    * text would silently stop binding — drop and re-add it spelled
    * with the new name), and when `to` is already a logical column.
    * The freed logical name stays RESERVED on disk: schema evolution
    * refuses to add a column whose name collides with any mapped
    * field's physical name (the carried files still spell it — a new
    * field under that name would resurrect old bytes). */
  def renameColumn(spark: SparkSession, target: String,
                   from: String, to: String): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val schema = manifestSchema(target, parentV)
    require(schema.fieldNames.contains(from),
      s"no column '$from' at $target")
    require(to != from, s"renameColumn at $target: '$from' -> itself")
    require(!schema.fieldNames.contains(to),
      s"column '$to' already exists at $target")
    require(to.nonEmpty && !to.exists(c => c == ':' || c == '=' ||
        c == ',' || c == '\n' || c == '\r'),
      s"column name '$to' would corrupt manifest stats keys " +
        "(':', '=', ',' and newlines are reserved)")
    // Same public analyze-a-zero-row-filter probe as dropColumn: a
    // constraint whose SQL references the old name would silently stop
    // binding after the rename.
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val referencing = constraints(target, Some(parentV)).filter {
      case (_, check) =>
        try probe.limit(0).where(expr(check)).queryExecution.analyzed
          .collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSet
          }.exists(_.contains(from))
        catch { case _: Throwable => check.contains(from) }
    }
    require(referencing.isEmpty,
      s"column '$from' at $target is referenced by constraint(s) " +
        s"${referencing.keys.mkString(", ")} — drop them first and " +
        "re-add them spelled with the new name")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
        if (f.name != from) f
        else {
          val phys = physicalNameOf(f)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          // Renaming back to the on-disk name retires the mapping.
          val md = if (to == phys) mb.remove(PhysicalNameKey).build()
            else mb.putString(PhysicalNameKey, phys).build()
          f.copy(name = to, metadata = md)
        }
      })
    // Stats/bloom lines and the column lists key by LOGICAL name —
    // rewrite them inside the same CAS so skipping never goes stale.
    val meta = manifestMeta(target, Some(parentV)).map {
      case (k, v) if isStatsKey(k) && statsKeyCol(k) == from =>
        statsKey(statsKeyFile(k), to) -> v
      case (k, v) if isNullsKey(k) && statsKeyCol(k) == from =>
        nullsKey(statsKeyFile(k), to) -> v
      case (k, v) if isBloomKey(k) && statsKeyCol(k) == from =>
        bloomKey(statsKeyFile(k), to) -> v
      case (k, v) if k == StatsColsKey || k == BloomColsKey =>
        k -> v.split(",").map(c => if (c == from) to else c).mkString(",")
      case kv => kv
    } + (SchemaKey -> newSchema.json)
    commit(target, liveFiles(target, Some(parentV)), parentV, meta)
  }

  /** ADD COLUMN as a metadata-only commit — the explicit-DDL face of
    * schema evolution (merge's `allowSchemaEvolution` needs a data
    * batch to carry the new field; `ALTER TABLE ADD COLUMN` should
    * not). The recorded schema gains a nullable field; every live file
    * predates it, so readers null-fill by the parquet missing-column
    * rule exactly as an evolving merge's carried files do, and later
    * writes land values normally. Zero data movement at any scale.
    * Refused when the name is already a logical column, or when it
    * collides with a mapped field's ON-DISK name (the carried files
    * spell that name — a new field over it would resurrect the renamed
    * column's bytes). */
  def addColumn(spark: SparkSession, target: String, colName: String,
                dataType: org.apache.spark.sql.types.DataType): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val schema = manifestSchema(target, parentV)
    require(!schema.fieldNames.contains(colName),
      s"column '$colName' already exists at $target")
    require(colName.nonEmpty && !colName.exists(c => c == ':' || c == '=' ||
        c == ',' || c == '\n' || c == '\r'),
      s"column name '$colName' would corrupt manifest stats keys " +
        "(':', '=', ',' and newlines are reserved)")
    val physTaken = schema.fields
      .filter(f => physicalNameOf(f) != f.name).map(physicalNameOf).toSet
    require(!physTaken.contains(colName),
      s"column '$colName' collides with the on-disk (physical) name of " +
        s"a renamed column at $target — pick another name, or compact " +
        "and re-init to retire the physical name")
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        colName, dataType, nullable = true))
    commit(target, liveFiles(target, Some(parentV)), parentV,
      manifestMeta(target, Some(parentV)) + (SchemaKey -> newSchema.json))
  }

  /** ALTER COLUMN ... SET DEFAULT <sql> / DROP DEFAULT (`default =
    * None`) — a METADATA-ONLY schema commit, standard SQL semantics:
    * the default applies to FUTURE inserts that omit the column (or
    * spell the DEFAULT keyword); existing rows keep their stored
    * values, and rows written before the column existed keep reading
    * NULL (the ADD COLUMN null-fill rule — setting a default later
    * never rewrites or reinterprets data, Delta's contract too). The
    * default rides the recorded schema's field metadata under Spark's
    * own CURRENT_DEFAULT key, so the ANALYZER fills it — the engine
    * never evaluates defaults at scan or write time. */
  def setColumnDefault(spark: SparkSession, target: String,
                       colName: String, default: Option[String]): Int = {
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val schema = manifestSchema(target, parentV)
    val f = schema.fields.find(_.name == colName).getOrElse(sys.error(
      s"no column '$colName' at $target — columns: " +
        schema.fieldNames.mkString(", ")))
    // Defensive validation (the SQL route pre-analyzes; the Scala
    // route arrives raw): the default must be a constant expression
    // loss-free-castable to the column type. One driver-side eval.
    default.foreach { sql =>
      try spark.range(1)
        .select(org.apache.spark.sql.functions.expr(sql)
          .cast(f.dataType)).collect()
      catch { case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT ($sql) is not a constant expression castable to " +
          s"${f.dataType.sql} for column '$colName': ${e.getMessage}") }
    }
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
    default match {
      case Some(sql) => mb.putString("CURRENT_DEFAULT", sql): Unit
      case None => mb.remove("CURRENT_DEFAULT"): Unit
    }
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(x =>
        if (x.name == colName) x.copy(metadata = mb.build()) else x))
    commit(target, liveFiles(target, Some(parentV)), parentV,
      manifestMeta(target, Some(parentV)) + (SchemaKey -> newSchema.json))
  }

  /** Fail `verb` loudly if any of the table's constraints rejects a row
    * of `rows` (the verb's NEW row content — incoming batch, post-SET
    * projection); one combined aggregate, no commit has happened yet. */
  private def enforceConstraints(spark: SparkSession, target: String,
                                 parentV: Int, rows: DataFrame,
                                 verb: String): Unit = {
    val cs = constraints(target, Some(parentV)).toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, c) =>
      sum(when(not(coalesce(expr(c), lit(true))), 1L).otherwise(0L))
        .as(s"__viol_$n")
    }
    val r = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bad = cs.flatMap { case (n, c) =>
      Option(r.getAs[java.lang.Long](s"__viol_$n"))
        .filter(_ > 0L).map(v => s"'$n' CHECK ($c): $v row(s)")
    }
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"$verb at $target rejected by constraint(s) " +
          bad.mkString("; ") + " — no commit was made")
  }

  final case class ApplyStats(filesTotal: Int, filesRewritten: Int,
                              rowsUpserted: Long, rowsDeleted: Long,
                              skippedReplay: Boolean = false,
                              recomputes: Int = 0, rebases: Int = 0)

  /** In-transaction idempotence guard for [[applyChanges]] (Delta's
    * txnAppId/txnVersion check): the batch commits only if the newest
    * committed `key` marker still has the value the batch was BUILT
    * against. `expected = Some(v)`: abort unless the marker is exactly
    * v — any movement means a rival maintainer applied an overlapping
    * span (even a SUB-span: a per-commit stream landing base+1 under a
    * scheduled full-span refresh — a >=-only check would let the
    * refresh's retry double-apply that overlap). `expectUnset`: abort
    * unless the marker is still unset — the base of a writer that read
    * none (a replica's first sync: a rival first sync that landed a
    * shorter span must not be overwritten by a netted longer one).
    * Otherwise, with no base known, abort only when the marker already
    * covers `newVersion`. Aborts surface as `skippedReplay`, never
    * commit. */
  final case class MarkerGuard(key: String, newVersion: Long,
                               expected: Option[Long] = None,
                               expectUnset: Boolean = false) {
    require(!(expectUnset && expected.isDefined),
      s"MarkerGuard on $key expects both an unset marker and $expected")
    def stale(current: Option[Long]): Boolean = expected match {
      case Some(e) => !current.contains(e)
      case None if expectUnset => current.isDefined
      case None => current.exists(_ >= newVersion)
    }
  }

  /** Newest value of manifest-metadata `key` at or below a version
    * (head by default) — the generic walk behind progress markers: a
    * commit that doesn't carry the key (a compaction, a rival verb) is
    * skipped; vacuumed manifests read as empty. An empty value records
    * the key as unset (a [[restore]] below a replica's first sync).
    * O(1) in steady state (the head usually carries its consumer's
    * marker). */
  def markerValue(target: String, key: String,
                  atVersion: Option[Int] = None): Option[String] =
    atVersion.orElse(currentVersion(target)) match {
      case None => None
      case Some(head) => (head to 0 by -1).iterator
        .flatMap(v => manifestMeta(target, Some(v)).get(key))
        .nextOption().filter(_.nonEmpty)
    }

  /** MERGE `upserts` and DELETE `deleteKeys` in ONE atomic commit, with
    * optional manifest metadata — the transactional sink for a consumer
    * that must apply a change batch PLUS its progress marker
    * all-or-nothing (IncrementalView's delta application: separate
    * merge / delete / marker steps left a crash window where a
    * redelivered batch double-applied the delta). It runs [[merge]]'s
    * upsert body with a delete side: one pruned key probe over the
    * combined key bounds finds the files holding a matched upsert key
    * OR a doomed delete key; their survivors (rows matching neither)
    * rewrite together with the incoming batch, everything else carries
    * by manifest reference. A key in BOTH sets ends PRESENT
    * (delete-then-upsert composition). A batch that touches nothing
    * still commits a metadata-only version when `meta` is non-empty, so
    * progress markers advance past empty spans. OCC retry semantics
    * match [[merge]]'s, and so does the batch contract: upsert columns
    * must name table columns (ordering columns excepted), align by the
    * same upcast rule, and record the same nullability. There is no
    * schema evolution here.
    *
    * A [[MarkerGuard]] makes the change batch a TRANSACTIONAL
    * IDEMPOTENT write: each attempt — including every OCC retry, which
    * re-reads the head — first reads the newest committed marker and
    * DROPS THE BATCH WHOLE (no commit, no files, `skippedReplay =
    * true`) when the guard says a rival already applied an overlapping
    * span. A caller-side check-then-act is racy precisely on the retry
    * path: two maintainers of one view both read marker = X, both
    * build the span delta, the loser's retry recomputes against the
    * winner's head and re-applies the same delta (doubling counts) —
    * re-checking INSIDE the attempt, against the same parent version
    * the CAS commits on, closes that window: a rival landing between
    * the check and the CAS fails the CAS, and the retry re-checks. */
  def applyChanges(spark: SparkSession, target: String, upserts: DataFrame,
                   deleteKeys: DataFrame, pk: Seq[String],
                   ordCols: Seq[String] = Nil,
                   meta: Map[String, String] = Map.empty,
                   maxRetries: Int = 0,
                   snapshotVersion: Option[Int] = None,
                   guard: Option[MarkerGuard] = None): ApplyStats =
    withOcc(maxRetries, snapshotVersion)(pin => upsertOnce(spark, target,
      upserts, Some(deleteKeys), pk, ordCols, meta, pin, guard,
      evolve = false, "applyChanges").stats)(
      st => st.copy(recomputes = st.recomputes + 1))

  /** What one upsert attempt did: [[applyChanges]]' figures plus
    * [[merge]]'s split of the upserted keys into inserts and updates. */
  private final case class Upserted(stats: ApplyStats, rowsInserted: Long,
                                    rowsUpdated: Long)

  /** The one upsert body behind [[merge]] (`deleteKeys = None`, no
    * meta, no guard, `evolve` from the caller) and [[applyChanges]]:
    *
    *   1. the keyed-batch prologue and, with a guard, the marker check
    *      at the pinned parent;
    *   2. the batch projected onto the table's columns (strict, or
    *      evolving: new columns appended), constraint-gated and cached;
    *   3. nothing to upsert and nothing to delete: a metadata-only
    *      commit when `meta` is non-empty, else none — before any table
    *      IO (the idle micro-batch of a streaming sink);
    *   4. one pruned, pk-only probe right-joined with the change keys
    *      and grouped by file in ONE collect: files with a match are the
    *      rewrite set, and the NULL-file group holds the batch keys the
    *      table lacks;
    *   5. the affected files rewrite as their survivors plus the batch,
    *      through the one commit tail, [[commitWithRebase]].
    *
    * `merge` pays nothing for the absent delete side: no emptiness job
    * and no delete join. */
  private def upsertOnce(spark: SparkSession, target: String,
                         upserts: DataFrame, deleteKeys: Option[DataFrame],
                         pk: Seq[String], ordCols: Seq[String],
                         meta: Map[String, String], pin: Option[Int],
                         guard: Option[MarkerGuard], evolve: Boolean,
                         verb: String): Upserted = {
    require(pk.nonEmpty, s"$verb at $target needs a key")
    val (parentV, before, deduped) =
      keyedBatch(target, upserts, pk, ordCols, pin)
    def nothing(skipped: Boolean): Upserted = Upserted(
      ApplyStats(before.size, 0, 0L, 0L, skippedReplay = skipped), 0L, 0L)
    def stale(v: Int): Boolean = guard.exists(g =>
      g.stale(markerValue(target, g.key, Some(v)).map(_.toLong)))
    if (stale(parentV)) return nothing(skipped = true)
    // The verb NEVER builds the full-table read plan just to learn
    // column names: constructing it lists every live file (an
    // InMemoryFileIndex pass — a parallel listing JOB past the
    // discovery threshold, an object-store HEAD per path at 100 TB),
    // and a pruned trickle upsert must stay O(candidate files) end to
    // end. The manifest schema answers instead.
    val tableSchema = manifestSchema(target, parentV)
    val tableCols: Seq[String] = tableSchema.fieldNames.toSeq
    // Schema evolution (Delta's mergeSchema shape): with it on, batch
    // columns absent from the table are APPENDED (carried files keep
    // their physical schema — read() null-fills them there),
    // and table columns absent from the batch null-fill on the incoming
    // rows. Off, the batch must project exactly onto the table's
    // columns — a drifted producer fails loudly here instead of
    // silently reshaping the table (or, for a replica, being trimmed
    // while the marker moves past it).
    // Batch-only ordering columns are part of the upsert CONTRACT, not
    // schema drift — only other unknown columns trip the strict check.
    val extra = deduped.columns
      .filterNot(tableCols.contains).filterNot(ordCols.contains)
    require(evolve || extra.isEmpty,
      s"$verb batch carries columns absent from the table at $target " +
        s"(${extra.mkString(", ")}) — a drifted producer; add them to " +
        "the table first (or merge with allowSchemaEvolution=true)")
    // A renamed-away column's PHYSICAL name is still spelled inside
    // every carried file; evolving in a new column under that name
    // would make two fields collide on disk (and resurrect old bytes).
    val physTaken = tableSchema.fields
      .filter(f => physicalNameOf(f) != f.name)
      .map(physicalNameOf).toSet
    val collides = extra.filter(physTaken.contains)
    require(collides.isEmpty,
      s"evolved column(s) ${collides.mkString(", ")} collide with the " +
        s"on-disk (physical) name of a renamed column at $target — " +
        "pick another name, or compact and re-init to retire the " +
        "physical name")
    val batchOnlyOrd = ordCols.filterNot(tableCols.contains)
    def emptyTable = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    val incoming = (
      if (evolve)
        emptyTable.unionByName(deduped.drop(batchOnlyOrd: _*),
          allowMissingColumns = true)
      else alignBatchTypes(
        deduped.select(tableCols.map(col).toIndexedSeq: _*), tableSchema,
        verb)
      ).cache()
    val keys = deleteKeys.map(_.select(pk.map(col): _*)
      .where(pk.map(col(_).isNotNull).reduce(_ && _)).distinct().cache())
    // The caches are released on every exit, a constraint rejection
    // included.
    try {
      enforceConstraints(spark, target, parentV, incoming, verb)
      def metaOnly(): Upserted = {
        // Nothing to rewrite: a metadata-only commit still advances the
        // progress marker atomically (same file list, next version) —
        // carried stats ride along untouched.
        if (meta.nonEmpty) {
          val (bCols, fpp) = inheritedBloom(target, parentV)
          commitWithStats(spark, target, before, parentV, meta, Nil,
            statsColumns(target, Some(parentV)), tableSchema, bCols, fpp)
        }
        nothing(skipped = false)
      }
      // The count both sizes the upsert side and tests it for emptiness.
      val rowsUpserted = incoming.count()
      // Heartbeat shape: an empty change batch exists only to advance a
      // progress marker — probing every candidate file for keys that
      // cannot exist is pure waste (measured 12-34 s per commit at
      // 4-16k live files: the per-micro-batch idle cost of a streaming
      // sink). Commit the metadata against the unchanged file list and
      // return before any table IO.
      if (rowsUpserted == 0L && keys.forall(_.isEmpty)) return metaOnly()
      // One pruned, pk-only probe answers every figure: candidate files
      // come from the COMBINED key bounds (upserts ∪ deletes) — a file
      // outside both batches' ranges can hold neither a matched upsert
      // nor a doomed key.
      val upKeys = incoming.select(pk.map(col): _*)
      val probeKeys = keys.fold(upKeys)(upKeys.unionByName(_))
      val candidatesAt = (v: Int, fs: Seq[String]) =>
        pruneByKeyBounds(target, v, fs, probeKeys, pk)
      val candidates = candidatesAt(parentV, before)
      // Each change key carries `__up` (true: upserted; false: doomed
      // and NOT re-upserted — delete-then-upsert composition: such a
      // key survives as the incoming row, so it does not end deleted).
      // Keys are unique, so the right join never fans a change key out
      // past the live rows holding it, and NULL keys match nothing. In
      // ONE grouped collect, a file group counts its live rows the batch
      // upserts and deletes, and the NULL-file group counts the
      // upserted keys no live row holds.
      val upTagged = upKeys.withColumn("__up", lit(true))
      val changed = keys.fold(upTagged)(k => upTagged.unionByName(
        k.join(upKeys, pk, "left_anti").withColumn("__up", lit(false))))
      val perFile = probeScan(spark, target, parentV, candidates, pk)
        .join(changed, pk, "right")
        .groupBy("__file")
        .agg(count(when(col("__up"), 1)), count(when(!col("__up"), 1)))
        .collect()
      val (hit, missed) = perFile.partition(!_.isNullAt(0))
      val affected = hit.map(_.getString(0)).toSet
      val rowsUpdated = hit.map(_.getLong(1)).sum
      val rowsDeleted = hit.map(_.getLong(2)).sum
      val rowsInserted = missed.map(_.getLong(1)).sum
      if (affected.isEmpty && rowsUpserted == 0L) return metaOnly()
      // Survivors of the affected files (rows matching neither set) plus
      // the incoming batch become the replacement files; untouched files
      // are carried into the next manifest as-is.
      val kept = readSubset(spark, target, parentV, affected.toSeq.sorted)
        .join(incoming, pk, "left_anti")
      val replacement = keys.fold(kept)(kept.join(_, pk, "left_anti"))
        .unionByName(incoming, allowMissingColumns = true)
      // The recorded schema re-inherits the table's rename mapping:
      // `incoming` is built over the user batch, whose attributes carry
      // no field metadata. Nullability unions with the table's — carried
      // files keep their NULLs whatever the batch declares, and a batch
      // that may carry NULLs never commits under a NOT NULL column.
      val recorded = withMapping(
        unionNullability(incoming.schema, tableSchema), tableSchema)
      // Only a delete-only batch can leave nothing to write: every
      // affected file emptied, so no (empty) data file is written.
      val newFiles =
        if (affected.isEmpty) writeFiles(toPhysical(incoming, recorded), target)
        else if (rowsUpserted == 0L && replacement.isEmpty) Seq.empty
        else writeFiles(toPhysical(
          replacement.repartition(math.max(1, affected.size)), recorded),
          target)
      commitWithRebase(spark, target, parentV, newFiles, affected, recorded,
        ReadSet(candidates, affected, candidatesAt), meta = meta,
        staleAt = stale) match {
        case None => nothing(skipped = true)
        case Some(c) => Upserted(ApplyStats(before.size, affected.size,
          rowsUpserted, rowsDeleted, rebases = c.rebases),
          rowsInserted, rowsUpdated)
      }
    } finally { incoming.unpersist(); keys.foreach(_.unpersist()) }
  }

  /** Loud contract for consumers reading BEHIND head: every manifest a
    * change-feed span touches must still exist. After a vacuum dropped
    * one, the raw failure was a NoSuchFileException mid-plan (or a
    * FileNotFoundException mid-job); this names the cause and the
    * remedy instead. */
  private def requireSpanReadable(target: String, versions: Int*): Unit = {
    val missing = versions.distinct.sorted.filterNot(v =>
      Files.exists(manifestDir(target).resolve(s"v$v.list")))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"change-feed span version(s) ${missing.mkString(", ")} vacuumed " +
          s"at $target — increase retainVersions (or the vacuum grace " +
          "window) so retention covers this consumer's lag, and rebuild " +
          "the consumer from a retained snapshot")
  }

  /** Read a version's files for the diff/changes span machinery, with
    * the same schema discipline as [[read]]: plan against the manifest
    * schema's PHYSICAL shape directly — zero footer reads, no
    * distributed schema-inference job per span side; files predating
    * an evolved column null-fill it and columns dropped from the
    * manifest never surface. */
  private def readSpanFiles(spark: SparkSession, target: String, v: Int,
                            paths: Seq[String]): DataFrame =
    spark.read.schema(physicalSchema(manifestSchema(target, v)))
      .parquet(paths: _*)

  /** Row-level diff between two committed versions (change-data-feed
    * lite): the rows of `toVersion` that are NOT in `fromVersion` — i.e.
    * every inserted row plus the post-image of every update, as a row
    * multiset (a row held twice at `toVersion` and once at
    * `fromVersion` appears once). It is the net-positive part of
    * [[changeSides]], so only the files unique to each side, and the
    * changed positions of common files, are ever scanned — a trickle
    * merge's diff reads the few rewritten files, not the table. */
  def diff(spark: SparkSession, target: String,
           fromVersion: Int, toVersion: Int): DataFrame = {
    val sides = changeSides(spark, target, fromVersion, toVersion)
    val cols = sides.columns.toSeq.filterNot(_ == "__w").map(col)
    sides.groupBy(cols: _*).agg(sum(col("__w")).as("__net"))
      .where(col("__net") > 0)
      .withColumn("__rep", explode(sequence(lit(1L), col("__net"))))
      .select(cols: _*)
  }

  /** The signed rows of a span, in `toVersion`'s logical names and
    * schema plus a weight `__w`: +1 for every row that `toVersion` holds
    * and `fromVersion` does not hold in the same place, −1 for the
    * converse. Immutable files common to both manifests cancel exactly,
    * so only three parts are read: the files unique to `toVersion`
    * (with its vectors applied, +1), the files unique to `fromVersion`
    * (with its vectors, −1), and the positions of common files whose
    * deletion vector changed ([[dvSpanRows]]). Removed pre-evolution
    * files null-fill appended columns, as read() shows them. A span
    * that changed nothing is an empty frame of the same shape. */
  private[graft] def changeSides(spark: SparkSession, target: String,
                                 fromVersion: Int,
                                 toVersion: Int): DataFrame = {
    requireSpanReadable(target, fromVersion, toVersion)
    // Both sides surface the TO version's logical names: physical
    // (on-disk) names are the stable identity across a rename, so a
    // span straddling a rename commit still aligns row-for-row.
    val renames = logicalByPhysical(manifestSchema(target, toVersion))
    def readFiles(names: Seq[String], v: Int, w: Long): Option[DataFrame] =
      if (names.isEmpty) None
      else Some(renameAll(applyDv(spark, target, v,
        readSpanFiles(spark, target, v,
          names.map(f => dataDir(target).resolve(f).toString)),
        Some(names)), renames).withColumn("__w", lit(w)))
    val before = liveFiles(target, Some(fromVersion)).toSet
    val after = liveFiles(target, Some(toVersion)).toSet
    val base = read(spark, target, Some(toVersion)).limit(0)
      .withColumn("__w", lit(0L))
    val cols = base.columns.toSeq.map(col)
    (readFiles((after -- before).toSeq.sorted, toVersion, 1L).toSeq ++
      readFiles((before -- after).toSeq.sorted, fromVersion, -1L) ++
      dvSpanRows(spark, target, fromVersion, toVersion,
        (before intersect after).toSeq.sorted))
      .map(base.unionByName(_, allowMissingColumns = true).select(cols: _*))
      .reduceOption(_.unionByName(_)).getOrElse(base)
  }

  /** Rows of `common` files whose deletion vector CHANGED across a
    * span, signed like [[changeSides]]: `__w` = +1 for a row marked at
    * `from` and not at `to` (revived — only a restore does this), −1
    * for a row marked at `to` only (a MOR delete in the span). ONE
    * signed sum over `(file, pos)` decides each position — exceptAll's
    * `count_from > count_to` test is a positive sum, and a position
    * marked on both sides sums to 0 and drops — and one broadcast join
    * fetches the rows. None when no common file's vector changed; only
    * changed files are ever scanned. */
  private def dvSpanRows(spark: SparkSession, target: String,
                         fromVersion: Int, toVersion: Int,
                         common: Seq[String]): Option[DataFrame] = {
    val fromDv = dvMeta(target, Some(fromVersion))
    val toDv = dvMeta(target, Some(toVersion))
    val changed = common.filter(f => fromDv.get(f) != toDv.get(f))
    if (changed.isEmpty) return None
    def marks(m: Map[String, String], w: Long): Option[DataFrame] = {
      val entries = m.filter { case (f, _) => changed.contains(f) }
      if (entries.isEmpty) None
      else Some(dvPositions(spark, target, entries).withColumn("__w", lit(w)))
    }
    val delta = (marks(fromDv, 1L).toSeq ++ marks(toDv, -1L))
      .reduce(_.unionByName(_))
      .groupBy("__gdvf", "__gdvp").agg(signum(sum(col("__w"))).as("__s"))
      .where(col("__s") =!= 0)
      .select(col("__gdvf"), col("__gdvp"), col("__s").cast("long").as("__w"))
    val content = renameAll(
      readSpanFiles(spark, target, toVersion,
          changed.map(f => dataDir(target).resolve(f).toString))
        .withColumn("__gdvf", element_at(split(input_file_name(), "/"), -1))
        .withColumn("__gdvp", col("_metadata.row_index")),
      logicalByPhysical(manifestSchema(target, toVersion)))
    Some(content.join(broadcast(delta), Seq("__gdvf", "__gdvp"))
      .drop("__gdvf", "__gdvp"))
  }

  /** Typed change feed between two committed versions — [[diff]] plus
    * removals. Emits every changed row tagged `_change_type`
    * (Delta CDF's column name): `insert` (key new in `toVersion`),
    * `update_postimage` (key existed, content changed — the new row),
    * `delete` (key gone — the old row, so downstream consumers can
    * propagate the removal). Keyed on `pk`, so it understands DELETEs
    * the row-multiset [[diff]] cannot distinguish from rewrites.
    *
    * Same file-pruning argument as diff ([[changeSides]]): only each
    * side's unique files and the changed DV positions are scanned. A
    * pure compaction (same content, new layout) emits ZERO rows:
    * content nets before keying ([[classifyChanges]]).
    *
    * `includePreimages = true` additionally emits `update_preimage`
    * rows (the OLD row of every content-changed key — Delta CDF's
    * fourth change type). Consumers that must SUBTRACT superseded state
    * (incremental view maintenance, downstream aggregates) need the
    * pre-image; plain replication does not, so the default stays the
    * three-type feed. Pre-images come from the same signed frame — no
    * extra IO. */
  def changes(spark: SparkSession, target: String,
              fromVersion: Int, toVersion: Int,
              pk: Seq[String], includePreimages: Boolean = false): DataFrame = {
    require(pk.nonEmpty, s"changes at $target needs a key")
    classifyChanges(changeSides(spark, target, fromVersion, toVersion), pk,
      by = Nil, includePreimages)
  }

  /** Type the signed rows of [[changeSides]] (a `__w` column; `pk` and
    * `by` name data columns) into a change feed: the data columns,
    * `_change_type`, then `by`. Rows are compared within each value of
    * `by` — `by = Seq("_commit_version")` classifies every commit of a
    * multi-commit frame in the same pass, exactly as one [[changes]]
    * per commit would.
    *
    * ONE content aggregate and ONE key window, on ONE shuffle (the
    * aggregate's input is hash-partitioned on `pk ++ by`, a subset of
    * its grouping, so the window needs no second one):
    *   __net = Σ __w per (content, by) — exceptAll multiplicity in one
    *           signed number (a compaction nets to 0 and emits nothing);
    *   __ka/__kr = does this row's KEY appear on the added/removed side
    *           at all (raw presence, before netting).
    * Net-added rows are `update_postimage` when the key was also
    * removed, else `insert`; net-removed rows are `update_preimage`
    * when the key was also added, else `delete`. NULL keys never match
    * one another: they classify purely by their own side. Each content
    * re-expands to |__net| copies (1 on any pk-honest table; >1 only
    * when a version carries duplicate full rows). */
  private[graft] def classifyChanges(tagged: DataFrame, pk: Seq[String],
                                     by: Seq[String],
                                     includePreimages: Boolean): DataFrame = {
    val cols = tagged.columns.toSeq
      .filterNot(c => c == "__w" || by.contains(c)).map(col)
    val part = (pk ++ by).map(col)
    val byContent = tagged.repartition(part: _*)
      .groupBy(cols ++ by.map(col): _*)
      .agg(sum(col("__w")).as("__net"),
        max(when(col("__w") > 0, 1).otherwise(0)).as("__na"),
        max(when(col("__w") < 0, 1).otherwise(0)).as("__nr"))
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(part: _*)
    val keyHasNull = pk.map(col(_).isNull).reduce(_ || _)
    def keyHas(flag: String) =
      when(keyHasNull, 0).otherwise(max(col(flag)).over(byKey))
    val typed = byContent
      .withColumn("__ka", keyHas("__na"))
      .withColumn("__kr", keyHas("__nr"))
      .where(col("__net") =!= 0)
      .withColumn("_change_type", when(col("__net") > 0,
          when(col("__kr") > 0, "update_postimage").otherwise("insert"))
        .otherwise(
          when(col("__ka") > 0, "update_preimage").otherwise("delete")))
    val kept = if (includePreimages) typed
      else typed.where(col("_change_type") =!= "update_preimage")
    kept.withColumn("__rep", explode(sequence(lit(1L), abs(col("__net")))))
      .select(cols ++ (col("_change_type") +: by.map(col)): _*)
  }

  /** Manifest-metadata key of a replica's progress marker: the source
    * version whose content the replica holds. It lands in the same
    * commit as the changes that bring the replica there. */
  private[graft] val SyncAppliedKey = "sync.applied"

  /** Replicate a version span onto another MergeStore table by shipping
    * ONLY the change feed — the cross-region/downstream-copy primitive.
    * At 100 TB a replica cannot re-copy the table per refresh; the
    * industry shape (Delta deep-clone incremental sync, Iceberg
    * changelog consumption) is: read changes(start, to) and apply its
    * insert/update post-images and deleted keys as ONE guarded
    * [[applyChanges]] commit that also moves the replica's marker to
    * `toVersion` — no reader of the replica ever sees the upserts
    * without the deletes. The apply is file-granular on the replica,
    * so a trickle of source commits costs a trickle of replica rewrites.
    *
    * The replica must exist (initialize it once from
    * `read(source, Some(fromVersion))` — the "deep clone" step). The
    * span starts at the replica's marker; `fromVersion` is used only
    * while the replica has none, i.e. it names the clone version.
    * changes() nets each key to ONE terminal change across the span, so
    * applying it to a replica already past `start` could bring back a
    * row inserted and deleted inside the span: the commit is therefore
    * guarded on the exact marker it read — unset included, so two
    * first syncs racing on a replica with no marker yet cannot both
    * land — and a rival that moved it drops this apply whole
    * (`skippedReplay`; re-run to converge). A replica already at or
    * past `toVersion` commits nothing and reports `skippedReplay`, so
    * re-syncing an applied span is a no-op. A source column the replica
    * lacks refuses the apply with nothing committed (add it to the
    * replica, then re-run). */
  def sync(spark: SparkSession, source: String, replica: String,
           fromVersion: Int, toVersion: Int, pk: Seq[String],
           maxRetries: Int = 3): ApplyStats = {
    require(exists(replica),
      s"replica $replica must be initialized from source version $fromVersion")
    val marker = markerValue(replica, SyncAppliedKey).map(_.toInt)
    val start = marker.getOrElse(fromVersion)
    if (start >= toVersion)
      return ApplyStats(liveFiles(replica).size, 0, 0L, 0L,
        skippedReplay = true)
    val feed = changes(spark, source, start, toVersion, pk).cache()
    try applyFeed(spark, replica, feed, pk,
      MarkerGuard(SyncAppliedKey, toVersion.toLong,
        expected = marker.map(_.toLong), expectUnset = marker.isEmpty),
      maxRetries = maxRetries)
    finally feed.unpersist()
  }

  /** The one replication apply behind [[sync]] and
    * [[graft.streaming.StreamingSync]]: a change feed (data columns plus
    * `_change_type`, one terminal change per key) lands on the replica
    * as ONE [[applyChanges]] commit — insert/update post-images upsert,
    * deleted keys delete, and the marker `guard.key` moves to
    * `guard.newVersion`, the source version whose content the replica
    * then holds — guarded by `guard`. */
  private[graft] def applyFeed(spark: SparkSession, replica: String,
                               feed: DataFrame, pk: Seq[String],
                               guard: MarkerGuard,
                               maxRetries: Int): ApplyStats = {
    val upserts = feed.where(col("_change_type").isin(
      "insert", "update_postimage")).drop("_change_type")
    val deletes = feed.where(col("_change_type") === "delete")
      .select(pk.map(col): _*)
    applyChanges(spark, replica, upserts, deletes, pk,
      meta = Map(guard.key -> guard.newVersion.toString),
      maxRetries = maxRetries, guard = Some(guard))
  }

  /** Compact: bin-pack the live rows into `targetFiles` files and commit
    * the result as the next version — pure layout rewrite, content
    * unchanged. A long run of trickle merges accretes small replacement
    * files (every scan pays a per-file open); periodic compaction is the
    * standard table-format answer. `clusterBy` restores range clustering
    * so future merges stay few-file again. */
  def compact(spark: SparkSession, target: String, targetFiles: Int,
              clusterBy: Seq[String] = Nil,
              meta: Map[String, String] = Map.empty,
              statsCols: Option[Seq[String]] = None,
              zorderBy: Seq[String] = Nil,
              bloomCols: Option[Seq[String]] = None): Int = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy (range) and zorderBy (Morton) are alternative layouts")
    val parentV = currentVersion(target)
      .getOrElse(sys.error(s"no committed version at $target"))
    val df = read(spark, target, Some(parentV))
    val arranged =
      if (zorderBy.nonEmpty) Layouts.zorderArrange(df, zorderBy, targetFiles)
      else if (clusterBy.nonEmpty)
        df.repartitionByRange(targetFiles, clusterBy.map(col): _*)
      else df.repartition(targetFiles)
    // Stats carry through a compaction (every file is new, so every
    // stats line recomputes); `statsCols = Some(...)` additionally
    // ENABLES skipping on a stats-less table — one compaction
    // backfills the whole table's stats.
    val sCols = statsCols.getOrElse(statsColumns(target, Some(parentV)))
      .filter(c => df.schema.fields.exists(f =>
        f.name == c && tagOf(f.dataType).isDefined))
    val (inhB, fpp) = inheritedBloom(target, parentV)
    val bCols = bloomCols.getOrElse(inhB)
    val recorded = withMapping(df.schema, manifestSchema(target, parentV))
    val files = writeFiles(toPhysical(arranged, recorded), target)
    commitWithStats(spark, target, files, parentV, meta, files, sCols,
      recorded, bCols, fpp)
  }

  final case class CompactStats(version: Int, compacted: Int,
                                produced: Int, rebases: Int = 0,
                                recomputes: Int = 0)

  /** Incremental OPTIMIZE (Delta's bin-packing shape): rewrite ONLY the
    * live files smaller than `smallBytes` into ~`targetFileBytes`-sized
    * files, leaving every right-sized file untouched — the maintenance
    * verb a trickle-ingested table needs at scale, where [[compact]]'s
    * whole-table rewrite pays O(table) to fix a tail of tiny files.
    * Deletion vectors on the rewritten files MATERIALIZE (buried rows
    * drop for good; the sidecar lines retire with the file names);
    * stats/bloom lines recompute for the new files and carry untouched
    * for the rest. Fewer than 2 small files is a no-op — nothing
    * commits, the head version returns unchanged.
    *
    * Concurrency: the read set is exactly the small files, so a lost
    * CAS REBASES (zero data IO) whenever they are all still live with
    * unchanged DV lines and table policy at the new head — a rival
    * APPEND never forces a recompute; its new small files simply wait
    * for the next pass. A rival that rewrote or DV-buried a candidate
    * recomputes (`maxRetries`), exactly the row-level verbs' contract.
    *
    * File sizes come from the manifest's `z:` lines ([[fileSizes]]) —
    * zero data-directory stat calls. */
  def compactSmall(spark: SparkSession, target: String, smallBytes: Long,
                   targetFileBytes: Long = 128L << 20,
                   maxRetries: Int = 0,
                   snapshotVersion: Option[Int] = None): CompactStats =
    withOcc(maxRetries, snapshotVersion)(compactSmallOnce(spark, target,
      smallBytes, targetFileBytes, _))(
      st => st.copy(recomputes = st.recomputes + 1))

  private def compactSmallOnce(spark: SparkSession, target: String,
                               smallBytes: Long, targetFileBytes: Long,
                               snapshotVersion: Option[Int])
      : CompactStats = {
    require(smallBytes > 0 && targetFileBytes > 0,
      "compactSmall wants positive byte thresholds")
    val parentV = snapshotVersion.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    val before = liveFiles(target, Some(parentV))
    val small = fileSizes(target, Some(parentV))
      .filter { case (_, s) => s < smallBytes }
    if (small.size < 2) return CompactStats(parentV, 0, 0)
    val smallNames = small.map(_._1)
    val smallSet = smallNames.toSet
    val df = readSubset(spark, target, parentV, smallNames)
    val nOut = math.max(1, math.ceil(
      small.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val recorded = withMapping(df.schema, manifestSchema(target, parentV))
    val newFiles = writeFiles(
      toPhysical(df.repartition(nOut), recorded), target)
    // The affected-still-live and DV-line checks carry the real
    // equivalence argument; the candidate set re-derivation is identity
    // (a rival's NEW small files don't invalidate this rewrite — they
    // wait for the next pass).
    val c = commitWithRebase(spark, target, parentV, newFiles, smallSet,
      recorded, ReadSet(smallNames, smallSet,
        (_, headFiles) => smallNames.filter(headFiles.toSet))).get
    CompactStats(c.version, small.size, newFiles.size, rebases = c.rebases)
  }

  /** Materialize version `v` (head by default) as a `.ckpt` sidecar —
    * Delta's explicit `checkpoint()`: bounds every reader's
    * reconstruction walk at `v` without waiting for the interval-th
    * commit (a follower tailing a long delta run, or a planner about
    * to go cold, calls this after a burst). No-op when `v` is already
    * a full snapshot or already has a sidecar; idempotent under races
    * (two writers produce the same content; temp + atomic move).
    * Honors the table's `graft.ckpt.format` policy, so a parquet-
    * policy table gets the columnar predicate-readable encoding.
    * Returns the version checkpointed. */
  def checkpoint(target: String, version: Option[Int] = None): Int = {
    val v = version.orElse(currentVersion(target))
      .getOrElse(sys.error(s"no committed version at $target"))
    if (Files.exists(ckptPath(target, v))) return v
    val backing = listPath(target, v)
    val isDeltaBacking = Files.exists(backing) &&
      readManifestLines(backing).headOption.contains(DeltaMarkerLine)
    // A non-delta backing already bounds the walk at v. A sidecar
    // still pays ONE case: a text-full slot under the parquet policy
    // (a fresh table's v0, whose commit wrote the cheap gzip text and
    // enqueued this conversion) — the columnar sidecar is what serves
    // the cold predicate-pruned probes.
    if (!isDeltaBacking && !manifestMeta(target, Some(v)).get(CkptFormatKey)
        .contains("parquet"))
      return v
    stateOpt(target, v).foreach { st =>
      // Size estimate by arithmetic — never build the full-state
      // string just to compare against the threshold.
      val estBytes = st.meta.iterator.map { case (k, value) =>
        k.length + value.length + 3L }.sum +
        st.files.iterator.map(_.length + 1L).sum
      val wantsParquet = st.meta.get(CkptFormatKey).contains("parquet") &&
        estBytes >= compressThreshold
      // Bounded text-full slot + state below the parquet threshold:
      // a sidecar would just duplicate the manifest — skip.
      if (!isDeltaBacking && !wantsParquet) return v
      val tmp = manifestDir(target).resolve(
        s".v$v-${java.util.UUID.randomUUID().toString.take(8)}.ckpt.tmp")
      if (wantsParquet) ParquetCkpt.write(tmp, st.files, st.meta)
      else Files.write(tmp, snapshotBytes(
        (st.meta.toSeq.sorted.map { case (k, value) =>
          s"#$k=$value" } ++ st.files).mkString("\n"))): Unit
      Files.move(tmp, ckptPath(target, v),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    v
  }

  /** The encoding that BOUNDS the walk at `v`: the `.ckpt` sidecar's
    * if one landed, else the manifest slot's own when it is a full
    * snapshot — Some("parquet"|"text"); None when v is delta-backed
    * with no sidecar (the async checkpointer hasn't landed yet, or v
    * is an ordinary between-intervals commit). */
  def checkpointFormatOf(target: String, v: Int): Option[String] = {
    def fmt(p: Path): Option[String] =
      if (ParquetCkpt.isParquetFile(p)) Some("parquet")
      else if (readManifestLines(p).headOption.contains(DeltaMarkerLine))
        None
      else Some("text")
    Some(ckptPath(target, v)).filter(Files.exists(_)).flatMap(fmt)
      .orElse(Some(listPath(target, v)).filter(Files.exists(_))
        .flatMap(fmt))
  }

  /** Delete data files outside the retention window: anything not
    * referenced by the newest `retainVersions` manifests (default 1 —
    * the original keep-head-only behavior; older manifests above the
    * floor are dropped too, ending their time travel).
    *
    * Retention interacts with optimistic concurrency: a reader pinned on
    * version N (time travel, or a long scan that resolved the manifest
    * before a rival committed N+1) still needs N's files. Head-only
    * vacuum is safe only when nothing reads behind head; a multi-writer/
    * multi-reader deployment sets `retainVersions` to cover its longest
    * reader — exactly Delta's `VACUUM ... RETAIN` contract, expressed in
    * versions instead of hours.
    *
    * Retention also protects IN-FLIGHT WRITERS: a rival merge stages its
    * data files via writeFiles() BEFORE winning the manifest CAS; in that
    * window the files are unreferenced and look like orphans. `graceMillis`
    * (default [[DefaultVacuumGraceMillis]]) skips any data file younger
    * than the window, so a concurrent vacuum can never delete files a
    * soon-to-win commit will reference. Pass 0 only when no writer can be
    * mid-merge (single-writer maintenance windows, tests). */
  def vacuum(target: String, retainVersions: Int = 1,
             graceMillis: Long = DefaultVacuumGraceMillis,
             dryRun: Boolean = false): Int = {
    require(retainVersions >= 1, "must retain at least the head version")
    val head = currentVersion(target)
      .getOrElse(return 0)
    val floor = math.max(0, head - retainVersions + 1)
    val live = (floor to head).flatMap(v => liveFiles(target, Some(v))).toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val orphans = Files.list(dataDir(target)).iterator().asScala
      .filter(p => !live.contains(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis <= cutoff).toSeq
    // DRY RUN: report what a real pass would reclaim, mutate NOTHING —
    // no deletions, no floor checkpoint, no manifest drops, no debris
    // sweeps (Delta's VACUUM DRY RUN shape: audit before you reclaim).
    if (dryRun) return orphans.size
    orphans.foreach(Files.deleteIfExists)
    // The retention FLOOR must stay reconstructable once its base
    // manifests are gone: if its own manifest is a delta, materialize
    // the full state as a `.ckpt` sidecar FIRST (idempotent content —
    // a concurrent vacuum writes the same bytes; temp + atomic move).
    if (floor > 0) checkpoint(target, Some(floor)): Unit
    // Manifests below the retention floor reference vanished files —
    // remove them so a stale time travel fails at manifest lookup (a
    // clear error) instead of at mid-scan file-not-found. Checkpoint
    // sidecars below the floor go with their manifests.
    Files.list(manifestDir(target)).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && (n.endsWith(".list") || n.endsWith(".ckpt")) &&
          n.stripPrefix("v").stripSuffix(".list").stripSuffix(".ckpt")
            .toInt < floor
      }.toSeq.foreach(Files.deleteIfExists)
    // Crash debris, all age-gated by the same grace window that protects
    // in-flight writers: a commit/checkpoint temp file whose writer died
    // between write and atomic link/move (`.v<N>-<uuid>.tmp` /
    // `.ckpt.tmp` in _manifest), and a stage directory whose writer died
    // between createTempDirectory and the move into data/ (`.stage-*` /
    // `.dvstage-*` beside the table) — none is referenced by any
    // manifest, so nothing else ever reclaims them.
    // Every stat/walk/delete below tolerates the entry VANISHING
    // mid-sweep: commit() creates and deletes its `.tmp` within
    // milliseconds and writeFiles empties its stage dir on success, so
    // a vacuum concurrent with live writers constantly races them —
    // debris that disappeared was never debris.
    def mtimeOrNow(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException => Long.MaxValue }
    Files.list(manifestDir(target)).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".") && n.endsWith(".tmp") && mtimeOrNow(p) <= cutoff
      }.toSeq.foreach(Files.deleteIfExists)
    val parent = Paths.get(target).toAbsolutePath.getParent
    if (parent != null && Files.isDirectory(parent))
      Files.list(parent).iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          (n.startsWith(".stage-") || n.startsWith(".dvstage-")) &&
            Files.isDirectory(p)
        }.toSeq.foreach { dir =>
          // Age-gate on the NEWEST mtime in the tree: a long write job
          // keeps touching task files under the stage dir while the top
          // dir's own mtime goes stale.
          try {
            val entries = Files.walk(dir).iterator().asScala.toSeq
            if (entries.forall(e => mtimeOrNow(e) <= cutoff))
              entries.reverse.foreach(Files.deleteIfExists)
          } catch {
            case _: java.io.IOException | _: java.io.UncheckedIOException =>
              () // the owner finished (or is mid-write): not debris
          }
        }
    vacuumBlooms(target)
    vacuumDvs(target, floor, head, cutoff)
    orphans.size
  }

  /** Reclaim deletion-vector sidecars referenced by NO retained
    * manifest — superseded vectors (a newer sidecar replaced them) and
    * orphans of lost CAS attempts. Unlike blooms (keyed off their data
    * file's existence) a stale DV's data file is usually still live, so
    * retention is computed from the retained manifests' `dv:` lines.
    * The vacuum grace window protects a mid-commit writer's freshly
    * staged sidecars exactly like staged data files. */
  private def vacuumDvs(target: String, floor: Int, head: Int,
                        cutoff: Long): Unit = {
    val dir = dvDir(target)
    if (!Files.isDirectory(dir)) return
    val referenced = (floor to head)
      .flatMap(v => dvMeta(target, Some(v)).values).toSet
    Files.list(dir).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".dv.parquet") && !referenced.contains(n) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff
      }.toSeq.foreach(Files.deleteIfExists)
  }
}
