package graft.plans

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelationWithTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType,
  DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType,
  StructType, TimestampNTZType}

/** graft's table format: a partitioned parquet table with ATOMIC
  * multi-partition commits via a manifest pointer file, behind every
  * keyed table, the pipeline, the ingest loop and the catalog. Every
  * commit is all-or-nothing, Delta/Iceberg-style (reference analog:
  * Delta MERGE's atomic commit, orders_etl.py:67-71), with no Delta
  * jar:
  *
  *  - Data files are immutable, written under Hive-style partition dirs
  *    `data/<pc>=<value>/<commit>-<file>.parquet`; a commit never
  *    modifies or deletes a live file.
  *  - A snapshot is a commit record under `_commits/`: an action DELTA
  *    `v<N>.delta` (add/remove lines for the touched files only) with a
  *    full checkpoint manifest `v<N>.manifest` every few versions
  *    (Delta-log pattern). The COMMIT POINT is the single atomic rename
  *    of the delta tmp file into `_commits/` — readers resolve
  *    max(version) and see either the old or the new snapshot, never a
  *    mix, no matter where a writer died.
  *  - A crashed commit leaves orphan data files referenced by no
  *    record; they are invisible to readers and reclaimed by
  *    [[vacuum]].
  *
  * Scale notes (100 TB): commit metadata is driver-side and O(touched
  * files) per commit (checkpoints O(live files), amortized across the
  * interval — the same shape as Delta's JSON actions + parquet
  * checkpoints), while data moves stay distributed. `upsert` reads only
  * the partitions the batch touches (metadata-level partition pruning:
  * untouched partitions carry over by reference, zero I/O) and rewrites
  * them only when the batch is about as large as they are — a smaller
  * batch hides the rows it replaces with deletion vectors. Reads list
  * no directories at all (no eventually-consistent listing, no
  * small-file LIST storms): the file set comes straight from the
  * manifest, partition values are parsed from the Hive paths under
  * `basePath`, so Catalyst still partition-prunes file-level.
  *
  * Old snapshots remain readable ([[readVersion]] — time travel) until
  * vacuumed; [[changes]] serves incremental consumers from rewritten
  * files only (CDC), and manifest min/max stats ([[statsCols]]) let
  * [[readWhere]] skip files on metadata alone (combine with
  * [[clusterBy]] or [[graft.operators.ZOrder]] to make the stats
  * selective).
  */
final class SnapshotTable(
    spark: SparkSession,
    val path: String,
    val primaryKey: String,
    val partitionCol: Option[String] = None,
    val declaredSchema: Option[StructType] = None,
    /** Columns whose per-file min/max land in the manifest (data
      * skipping, Delta/Iceberg-style): [[readWhere]] prunes files whose
      * range can't overlap the predicate before any data I/O. */
    val statsCols: Seq[String] = Nil,
    /** Range-cluster batches on these columns at write so each data
      * file covers a narrow value range — what makes the stats above
      * selective. */
    val clusterBy: Seq[String] = Nil,
    /** Explicit cluster-file count per write. 0 (default) lets AQE
      * right-size range partitions to the data volume — correct at
      * scale, but at toy scale AQE coalesces everything into one file
      * and there is nothing to skip; set a count to pin granularity. */
    val clusterFiles: Int = 0,
    /** Columns carrying a per-file Bloom filter in the manifest
      * (Delta-style bloom index): [[readWhereEq]] prunes files whose
      * bloom rules the probe key out. This is POINT-LOOKUP skipping for
      * high-cardinality, NON-clustered columns — the case min/max
      * stats can't prune (every file's [min,max] spans the key).
      * Integral and string columns only. Costs one extra distributed
      * pass over each commit's NEW files and O(bloom bytes) manifest
      * per file per column. */
    val bloomCols: Seq[String] = Nil,
    /** Sizing for each per-file bloom (per-FILE expected distinct
      * items, not per table). ~0.9 bytes/item at 3% fpp. */
    val bloomExpectedItems: Long = 100000L,
    val bloomFpp: Double = 0.03,
    /** CHECK constraints (Delta's `ALTER TABLE ADD CONSTRAINT CHECK`
      * analog): named predicates every INCOMING row must satisfy. SQL
      * CHECK semantics — a row violates only when the predicate is
      * FALSE (NULL passes). Enforced on the new rows of create/upsert/
      * replace and on updated rows, BEFORE the commit: a violating
      * batch fails whole, the table keeps its previous snapshot, and
      * already-committed rows are never re-checked (O(batch), never
      * O(table)). */
    val checkConstraints: Seq[(String, Column)] = Nil,
    /** MULTI-column partitioning (e.g. `Seq("status", "month")` — real
      * 100 TB tables partition by (date, region)-style composites):
      * nested Hive dirs `a=.../b=.../`, pruned level by level at
      * planning time. Mutually exclusive with the single
      * `partitionCol`. */
    val partitionCols: Seq[String] = Nil,
    /** Free-form TABLE properties (Delta TBLPROPERTIES analog), logged
      * in the manifest with every commit so any handle — the catalog,
      * `format("graft")`, a bare SnapshotTable(path) — reads the same
      * metadata. The catalog persists `primaryKey`/`partitionCol`
      * writer options here, which is what lets a plain
      * `INSERT INTO graft.ns.t` know its merge key. Constructor values
      * override same-named logged ones; [[setProperties]] changes them
      * after the fact. */
    val tableProps: Map[String, String] = Map.empty,
    /** BRANCH handle (Iceberg branches): a named commit line forked
      * from a main version ([[createBranch]]) with its OWN version
      * sequence under `_branches/<name>/_commits`, sharing the main
      * table's data directory — fork and branch commits reference and
      * add files there, and only the MAIN handle's [[vacuum]] may
      * reclaim data (it retains every branch's references). All table
      * operations work on a branch handle except create (fork via
      * createBranch) and vacuum (main-only). */
    val branch: Option[String] = None) {

  require(partitionCol.isEmpty || partitionCols.isEmpty,
    "give either partitionCol or partitionCols, not both")
  branch.foreach(b => require(b.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
    s"branch name '$b' must match [A-Za-z0-9][A-Za-z0-9._-]*"))

  import SnapshotTable.FileEntry

  private val dataDir = s"$path/data"
  private val commitsDir =
    branch.fold(s"$path/_commits")(b => s"$path/_branches/$b/_commits")

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run an eager DML body with scan splits derived from BYTES alone.
    *
    * Spark's default split floor (`spark.sql.files.minPartitionNum` =
    * defaultParallelism) exists to parallelize compute-heavy scans of
    * small inputs; the jobs inside a merge/rewrite/compact only move
    * rows (read → key anti-join → write), so for them the floor just
    * shreds a few-MB read into one ~openCost-sized task per file —
    * pure per-task fixed overhead that grows with core count (guide
    * §2.2/§6: fewer, larger tasks). With the floor at 1, split count =
    * ceil(bytes / maxPartitionBytes): a 100 TB-scale merge still fans
    * out fully, a 2 MB commit probe runs as one task on any cluster.
    * Scoped and restored around the eager body only — declared-query
    * scans (where per-row compute may be heavy) keep the session
    * default. Reentrant and thread-safe per session (see
    * [[SnapshotTable.sizeDerivedSplits]]): the merge sink nests an
    * upsert inside its own scope, and a stream thread's commit may
    * overlap a user thread's DML on the same session. */
  private def withSizeDerivedSplits[A](body: => A): A =
    SnapshotTable.sizeDerivedSplits(spark)(body)

  // ---- commit-log format (Delta-log pattern, two record kinds):
  //  * `v<n>.delta` — the version's ATOMIC commit point: full header
  //    lines (version/token/schema/partition/check/layout/property —
  //    headers are O(schema) bytes, re-logged whole so any single
  //    record types the table) plus ONE ACTION LINE PER TOUCHED FILE
  //    (`add\t<entry>` / `remove\t<path>`). A commit therefore writes
  //    O(touched files) metadata, not O(live files) — the difference
  //    between a 1 KB and a 100 MB write per commit on a ~1M-file
  //    table.
  //  * `v<n>.manifest` — a CHECKPOINT: the same headers plus one line
  //    per LIVE file. Written for v1 (the atomic point there — every
  //    file is new, delta == full) and, best-effort AFTER the delta
  //    commit wins, every `checkpointInterval` versions, so a reader
  //    reconstructs any version from ≤ interval file parses. A lost
  //    checkpoint costs replay depth, never correctness; vacuum
  //    re-materializes one at the retention horizon before dropping
  //    older records. Pre-delta tables (manifest-only logs) read
  //    unchanged: a full manifest at v short-circuits the replay.
  // Stats values tagged L:/D:/S: (long/double/URL-encoded string);
  // paths table-relative so the table directory is relocatable.

  private def manifestPath(v: Long) = new Path(f"$commitsDir/v$v%09d.manifest")
  private def deltaPath(v: Long) = new Path(f"$commitsDir/v$v%09d.delta")
  // an earlier revision of this format wrote `v<n>.commit` action files;
  // silently ignoring one would resolve the table to a STALE head, so
  // their presence is a loud error (tables are regenerated per round;
  // nothing writes this extension anymore)
  private def legacyCommitPath(v: Long) = new Path(f"$commitsDir/v$v%09d.commit")

  /** Whether version `v` is committed and retained (either record kind). */
  private def versionExists(v: Long): Boolean =
    fs.exists(deltaPath(v)) || fs.exists(manifestPath(v))

  /** The file whose mtime is `v`'s commit time: the delta when present
    * (the atomic commit point — a checkpoint at the same version is
    * written after it), else the manifest (v1 / pre-delta tables /
    * vacuum-materialized horizon). */
  private def commitRecord(v: Long): Option[Path] = {
    val d = deltaPath(v)
    if (fs.exists(d)) Some(d)
    else { val m = manifestPath(v); if (fs.exists(m)) Some(m) else None }
  }

  /** Versions between full checkpoints: the replay depth a reader pays
    * at most. Tunable per table via the `graft.checkpointInterval`
    * property; 10 balances commit cost (one small delta) against read
    * cost (≤ 10 bounded parses, all but one O(touched)). */
  private def checkpointInterval: Int =
    effectiveProps.get("graft.checkpointInterval")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(10)

  /** Checkpoint hint: the last committed version number, rewritten after
    * every successful commit (Delta's `_last_checkpoint` idea). Purely an
    * optimization — writes are best-effort and non-atomic; readers verify
    * the hinted manifest exists, probe FORWARD for later commits (a
    * racing writer may have advanced past a stale hint, or crashed
    * between commit and hint write), and fall back to a full directory
    * listing when the hint is unreadable. */
  private val latestHint = new Path(s"$commitsDir/_latest")

  private def writeLatestHint(v: Long): Unit =
    try {
      val out = fs.create(latestHint, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Exception => () } // a lost hint only costs a listing

  /** The Long a small metadata file holds, or None when the file is
    * absent/torn/non-numeric — ONE parse for the latest-commit hint
    * and the tag files. */
  private def readLongFile(p: Path): Option[Long] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt =
          try new String(
            org.apache.commons.io.IOUtils.toByteArray(in),
            StandardCharsets.UTF_8).trim
          finally in.close()
        txt.toLongOption
      }
    } catch { case _: Exception => None }

  private def readLatestHint: Option[Long] =
    readLongFile(latestHint) // torn/corrupt hint → listing fallback

  /** Highest committed version, or None for an empty/new table.
    *
    * Fast path is O(1) metadata ops regardless of history length: read
    * the hint, verify its manifest exists, probe forward until the next
    * version is missing (one probe when the hint is fresh). Months of
    * streaming commits otherwise make every read pay an O(versions)
    * directory listing. */
  def currentVersion: Option[Long] = {
    readLatestHint.filter(h => h >= 1 && versionExists(h)) match {
      case Some(h) =>
        var v = h
        while (versionExists(v + 1)) v += 1
        // the forward probe stops at the first missing version — if what
        // sits there is a legacy-format record, the head we just
        // resolved is STALE, the silent-wrong-answer case; one extra
        // probe makes it loud (the listing fallback below checks too)
        if (fs.exists(legacyCommitPath(v + 1)))
          throw new IllegalStateException(
            s"table at $path carries a legacy-format commit record " +
              s"(v${v + 1}.commit): this revision cannot read it and " +
              "proceeding would silently resolve a stale head — " +
              "regenerate the table")
        Some(v)
      case None =>
        val dir = new Path(commitsDir)
        if (!fs.exists(dir)) return None
        val names = fs.listStatus(dir).map(_.getPath.getName)
        val legacy = names.filter(n =>
          n.startsWith("v") && n.endsWith(".commit"))
        if (legacy.nonEmpty)
          throw new IllegalStateException(
            s"table at $path carries legacy-format commit record(s) " +
              s"(${legacy.sorted.take(3).mkString(", ")}): this revision " +
              "cannot read them and proceeding would silently resolve a " +
              "stale head — regenerate the table")
        val vs = names.collect {
          case n if n.startsWith("v") && n.endsWith(".manifest") =>
            n.stripPrefix("v").stripSuffix(".manifest").toLong
          case n if n.startsWith("v") && n.endsWith(".delta") =>
            n.stripPrefix("v").stripSuffix(".delta").toLong
        }
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  def exists: Boolean = currentVersion.isDefined

  /** One parsed manifest: the snapshot's file set plus the schema the
    * commit recorded (absent only for manifests written before schemas
    * were logged — Delta keeps the schema in its transaction log for
    * the same reason: a reader should never need file footers to know
    * what a table looks like). */
  /** Skipping/clustering LAYOUT logged with each commit — like the
    * partition column and CHECK constraints, this is TABLE metadata
    * every writer must honor: a rewrite through a bare handle (SQL
    * MERGE, the registered sink) would otherwise silently stop
    * collecting the stats and blooms the table's pruning depends on. */
  private[graft] final case class Layout(statsCols: Seq[String],
                                         clusterBy: Seq[String],
                                         clusterFiles: Int,
                                         bloomCols: Seq[String],
                                         bloomItems: Long,
                                         bloomFpp: Double)

  /** The all-defaults layout — never logged (its line would carry no
    * information), the filter shared by every header writer. */
  private val DefaultLayout = Layout(Nil, Nil, 0, Nil, 100000L, 0.03)

  private final case class Manifest(entries: Seq[FileEntry],
                                    schema: Option[StructType],
                                    partitionCol: Option[String],
                                    checks: Seq[(String, String)],
                                    layout: Option[Layout],
                                    props: Map[String, String])

  private val HeaderPrefixes =
    Seq("token\t", "schema\t", "partition\t", "check\t", "layout\t",
      "property\t")

  private def encHdr(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def decHdr(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def encCols(cs: Seq[String]): String =
    cs.map(encHdr).mkString(",")
  private def decCols(s: String): Seq[String] =
    if (s.isEmpty) Nil else s.split(",", -1).toSeq.map(decHdr)

  // manifests are immutable per version: parsing one is cacheable for
  // the handle's lifetime. Bounded (last few versions) so a long-lived
  // streaming handle doesn't accumulate history.
  private val manifestCache =
    new java.util.LinkedHashMap[Long, Manifest](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Manifest]): Boolean = size() > 4
    }

  /** The parquet-checkpoint row layout: one row per live file, stats
    * as sorted parallel arrays (cheaper to write and decode than a
    * MapType, and order-stable for byte-reproducible checkpoints). */
  private val CkptSchema = SnapshotTable.CkptSchema

  /** One parsed commit record of either kind: headers plus, for a full
    * manifest/checkpoint, the live-file list in `entries`; for a delta,
    * the touched-file actions in `adds`/`removes`. */
  private final case class ParsedCommit(
      schema: Option[StructType], partitionCol: Option[String],
      checks: Seq[(String, String)], layout: Option[Layout],
      props: Map[String, String], entries: Seq[FileEntry],
      adds: Seq[FileEntry], removes: Seq[String])

  private val ActionPrefixes = Seq("add\t", "remove\t")

  /** Parse the header fields out of a commit record's non-entry
    * lines (everything after the `version` line). */
  private def parseHeaderFields(hdr: Seq[String])
      : (Option[StructType], Option[String], Seq[(String, String)],
         Option[Layout], Map[String, String]) = {
    val schema = hdr.find(_.startsWith("schema\t")).flatMap { l =>
      scala.util.Try(org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("schema\t")).asInstanceOf[StructType]).toOption
    }
    val pc = hdr.find(_.startsWith("partition\t"))
      .map(_.stripPrefix("partition\t")).filter(_.nonEmpty)
      // the explicit-flat marker decodes to Some(""): "the layout is
      // INTENTIONALLY unpartitioned", distinct from None ("unlogged")
      .map(v => if (v == SnapshotTable.FlatSpecMarker) "" else v)
    val checks = hdr.filter(_.startsWith("check\t")).map { l =>
      val parts = l.split("\t", 3)
      (decHdr(parts(1)), decHdr(parts(2)))
    }
    val layout = hdr.find(_.startsWith("layout\t")).map { l =>
      val p = l.split("\t", -1)
      Layout(decCols(p(1)), decCols(p(2)), p(3).toInt,
        decCols(p(4)), p(5).toLong, p(6).toDouble)
    }
    val props = hdr.filter(_.startsWith("property\t")).map { l =>
      val parts = l.split("\t", 3)
      (decHdr(parts(1)), decHdr(parts(2)))
    }.toMap
    (schema, pc, checks, layout, props)
  }

  private def parseCommit(p: Path, v: Long): ParsedCommit = {
    val in = fs.open(p)
    try {
      val txt = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      val lines = txt.split("\n").filter(_.nonEmpty).toSeq
      require(lines.head == s"version\t$v", s"commit header mismatch at $p")
      val (schema, pc, checks, layout, props) =
        parseHeaderFields(lines.tail.filter(l =>
          HeaderPrefixes.exists(l.startsWith)))
      val adds = lines.tail.filter(_.startsWith("add\t"))
        .map(l => FileEntry.parse(l.stripPrefix("add\t")))
      val removes = lines.tail.filter(_.startsWith("remove\t"))
        .map(_.stripPrefix("remove\t"))
      val entries = lines.tail
        .filterNot(l =>
          (HeaderPrefixes ++ ActionPrefixes).exists(l.startsWith))
        .map(FileEntry.parse)
      ParsedCommit(schema, pc, checks, layout, props, entries, adds, removes)
    } finally in.close()
  }

  /** Header fields of a commit record WITHOUT materializing its entry
    * lines — an O(header-bytes) streaming read where [[parseCommit]]
    * is O(whole-record). Sound because every writer emits headers
    * first ([[headerLines]] is prepended); the read stops at the
    * first non-header line. Used by the parquet-checkpoint cold-open
    * path, where the entries come from the columnar side instead. */
  private def parseHeader(p: Path, v: Long): ParsedCommit = {
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      val first = br.readLine()
      require(first == s"version\t$v", s"commit header mismatch at $p")
      val hdr = scala.collection.mutable.Buffer.empty[String]
      var line = br.readLine()
      while (line != null &&
             (line.isEmpty || HeaderPrefixes.exists(line.startsWith))) {
        if (line.nonEmpty) hdr += line
        line = br.readLine()
      }
      val (schema, pc, checks, layout, props) = parseHeaderFields(hdr.toSeq)
      ParsedCommit(schema, pc, checks, layout, props, Nil, Nil, Nil)
    } finally in.close()
  }

  /** The full table state at version `v`: walk down to the nearest
    * reconstructable base (a cached state or a checkpoint manifest),
    * then replay the delta chain above it. Bounded work — at most
    * `checkpointInterval` file parses, exactly one of them O(live
    * files); headers come from the LAST record applied (every delta
    * re-logs them whole). A version whose chain is broken (vacuumed
    * delta, legacy record) fails loudly rather than resolving to a
    * wrong snapshot. */
  private def readManifest(v: Long): Manifest = {
    // versions start at 1: without this guard the walk below never
    // runs for v <= 0 and falls through to the EMPTY base — silently
    // serving a fabricated empty snapshot (the pre-delta code threw
    // FileNotFound on the missing manifest)
    require(v >= 1,
      s"version $v does not exist at $path (versions start at 1)")
    // the cache monitor guards MAP ACCESS only — reconstruction (which
    // may run a distributed parquet-twin decode) proceeds outside it,
    // so a slow cold open never blocks other versions' readers.
    // Manifests are immutable per version: two threads racing the same
    // reconstruction waste work but agree on the result.
    val cached = manifestCache.synchronized(manifestCache.get(v))
    if (cached != null) return cached
    var deltas = List.empty[Long] // ascending: prepended as c descends
    var base = Manifest(Nil, None, None, Nil, None, Map.empty)
    var c = v
    var found = false
    while (c >= 1 && !found) {
      val m = manifestCache.synchronized(manifestCache.get(c))
      if (m != null) { base = m; found = true }
      else if (fs.exists(manifestPath(c))) {
        base = readCheckpointBase(c)
        found = true
      } else if (fs.exists(deltaPath(c))) { deltas ::= c; c -= 1 }
      else if (fs.exists(legacyCommitPath(c)))
        throw new IllegalStateException(
          s"version $c at $path is a legacy-format commit record " +
            "(.commit) this revision cannot read — regenerate the table")
      else throw new IllegalStateException(
        s"cannot reconstruct version $v at $path: version $c has no " +
          "commit record (vacuumed or corrupt) and no checkpoint covers " +
          "the gap")
    }
    val live = new java.util.LinkedHashMap[String, FileEntry]
    base.entries.foreach(e => live.put(e.path, e))
    var head = base
    deltas.foreach { dv =>
      val pcm = parseCommit(deltaPath(dv), dv)
      pcm.removes.foreach(live.remove)
      pcm.adds.foreach(e => live.put(e.path, e))
      head = Manifest(Nil, pcm.schema, pcm.partitionCol, pcm.checks,
        pcm.layout, pcm.props)
    }
    val m = Manifest(
      scala.jdk.CollectionConverters.CollectionHasAsScala(live.values)
        .asScala.toSeq,
      head.schema, head.partitionCol, head.checks, head.layout, head.props)
    manifestCache.synchronized(manifestCache.put(v, m))
    m
  }

  /** The layout in force: constructor values where given (that is how
    * a layout is declared or changed), the logged ones otherwise — so
    * rewrites through read-only handles keep collecting the same stats
    * and blooms. */
  private lazy val effectiveLayout: Layout = {
    val logged = currentVersion.flatMap(v => readManifest(v).layout)
    Layout(
      if (statsCols.nonEmpty) statsCols
      else logged.map(_.statsCols).getOrElse(Nil),
      if (clusterBy.nonEmpty) clusterBy
      else logged.map(_.clusterBy).getOrElse(Nil),
      if (clusterFiles != 0) clusterFiles
      else logged.map(_.clusterFiles).getOrElse(0),
      if (bloomCols.nonEmpty) bloomCols
      else logged.map(_.bloomCols).getOrElse(Nil),
      if (bloomExpectedItems != 100000L) bloomExpectedItems
      else logged.map(_.bloomItems).getOrElse(100000L),
      if (bloomFpp != 0.03) bloomFpp
      else logged.map(_.bloomFpp).getOrElse(0.03))
  }

  /** The table's REAL partition column: the constructor's when given,
    * else the one the manifest logged at commit — so a read-only handle
    * (`format("graft")`, SQL `USING graft`, a bare SnapshotTable(path))
    * can never mis-plan a partitioned table as unpartitioned. Resolved
    * once per handle; create() on a not-yet-existing table sees the
    * constructor value. */
  @volatile private var cachedPartitionSpec: Seq[String] = null
  /** Did this handle resolve its (empty) spec from an EXPLICIT flat
    * marker ([[SnapshotTable.FlatSpecMarker]])? A de-partitioned table
    * must keep re-logging the marker on every commit, or the ambiguity
    * with legacy no-line manifests comes back. */
  @volatile private var cachedExplicitFlat: Boolean = false
  private def explicitFlatSpec: Boolean = {
    tablePartitionCols // forces resolution
    cachedExplicitFlat
  }
  private[graft] def tablePartitionCols: Seq[String] = {
    val cached = cachedPartitionSpec
    if (cached != null) cached
    else {
      val ctor =
        if (partitionCols.nonEmpty) partitionCols else partitionCol.toSeq
      val logged =
        if (ctor.nonEmpty) None
        else currentVersion.flatMap(v => readManifest(v).partitionCol)
      val resolved =
        if (ctor.nonEmpty) ctor
        else logged.map(SnapshotTable.specOfCsv).getOrElse(Nil)
      cachedExplicitFlat = ctor.isEmpty && logged.contains("")
      cachedPartitionSpec = resolved
      resolved
    }
  }

  /** Write manifest to a tmp name, then ONE atomic-exclusive namespace
    * op that is the commit point — optimistic concurrency: the writer
    * that lands the destination name wins the version, every other
    * same-version committer fails cleanly and none of its files are
    * visible to readers (readers only follow manifest-listed paths).
    *
    * The commit op is chosen per filesystem:
    *  - HDFS-like namespaces: `rename(tmp, dest)` — rename onto an
    *    existing file FAILS atomically there.
    *  - `file:` (local): POSIX `link(tmp, dest)` — rename() on POSIX
    *    REPLACES an existing destination, so two racing committers
    *    could both "succeed" with one commit silently lost; hard-link
    *    creation is the local namespace op that fails with EEXIST
    *    atomically.
    *  - Everything else (S3A-style replacing rename): exists() precheck
    *    plus a post-rename read-back of the unique commit token — this
    *    detects a committer that replaced us in the window, though a
    *    perfectly interleaved pair can still trade wins; strict
    *    N-writer exclusion there needs an external lock/catalog
    *    (public Delta has the same caveat on raw S3). */
  /** The override params let [[publishBranch]] commit the BRANCH's
    * logged metadata (checks/layout/props) instead of this main
    * handle's — through the SAME commit record kind and exclusive
    * filename as every regular commit, so cross-kind races cannot
    * exist: whatever the concurrent writer, exactly one v-record
    * lands. */
  private def commitManifest(v: Long, files: Seq[FileEntry],
                             schema: StructType,
                             checksOverride: Option[Seq[(String, String)]] = None,
                             layoutOverride: Option[Layout] = None,
                             propsOverride: Option[Map[String, String]] = None,
                             partitionSpecOverride: Option[Seq[String]] = None): Unit = {
    fs.mkdirs(new Path(commitsDir))
    // either record kind at `v` means the version is taken (a fake or
    // checkpoint-only manifest must conflict a delta commit too)
    if (versionExists(v))
      throw new IllegalStateException(
        s"commit conflict: version $v already exists at $path")
    val parent = if (v <= 1L) None else Some(readManifest(v - 1))
    // the logged partition line is REVALIDATED against the parent at
    // commit time: a handle resolves its spec ONCE (cachedPartitionSpec)
    // and re-logging that one-shot value would silently REVERT a
    // repartitionTo committed by another handle in between. Only
    // repartitionTo itself (via the override) may change the line.
    // The LINE value: Some("") marks explicit flat (a de-partitioned
    // table must keep re-logging the marker or the ambiguity with
    // legacy no-line manifests returns); None keeps the classic
    // plain-unpartitioned shape.
    val commitSpecLine: Option[String] = partitionSpecOverride match {
      case Some(cols) => Some(cols.mkString(","))
      case None =>
        val cached = tablePartitionCols
        parent.foreach(_.partitionCol.map(SnapshotTable.specOfCsv)
          .foreach { headSpec =>
            if (headSpec != cached)
              throw new IllegalStateException(
                s"partition spec conflict at $path: this handle resolved " +
                  s"[${cached.mkString(",")}] but version ${v - 1} logs " +
                  s"[${headSpec.mkString(",")}] — the spec evolved under " +
                  "a concurrent repartitionTo; re-open the table and " +
                  "re-run")
          })
        if (cached.nonEmpty) Some(cached.mkString(","))
        else if (explicitFlatSpec ||
            parent.exists(_.partitionCol.contains(""))) Some("")
        else None
    }
    val token = UUID.randomUUID().toString
    // the schema rides in the manifest as one compact-JSON line (JSON
    // string escaping guarantees no literal tab/newline), nullability
    // relaxed to match what a parquet read reports — so readers plan
    // scans without opening a single footer
    val loggedSchema =
      StructType(schema.fields.map(_.copy(nullable = true))).json
    // CHECK constraints are TABLE metadata, not handle state: logging
    // them re-binds every future writer — whatever handle or source API
    // it comes through — exactly as Delta persists constraints in its
    // transaction log (a handle-only constraint would be silently
    // bypassed by the format("graft") sink or SQL INSERT)
    // CONSTRUCTOR constraints get their SQL from the ANALYZED predicate
    // against this commit's schema (Column exposes no expression in the
    // v4 API); already-LOGGED constraints carry forward VERBATIM — a
    // metadata-only commit (restore) or one whose schema predates an
    // evolved-column constraint must not re-analyze and fail
    def checkSql(c: Column): String = {
      val dummy = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      dummy.filter(c).queryExecution.analyzed match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.sql
        case other => throw new IllegalStateException(
          s"unexpected CHECK analysis shape: $other")
      }
    }
    val ctorNames = checkConstraints.map(_._1).toSet
    val carried = loggedChecks
      .filterNot(c => ctorNames(c._1) || droppedChecks(c._1))
      .map { case (n, sql) => (n, sql) }
    val allChecks = checksOverride.getOrElse(
      carried ++ checkConstraints.map { case (n, c) => (n, checkSql(c)) })
    val commitLayout = layoutOverride.getOrElse(effectiveLayout)
    val commitProps = propsOverride.getOrElse(effectiveProps)
    val header = headerLines(v, token, Some(loggedSchema),
      commitSpecLine, allChecks,
      Some(commitLayout), commitProps)
    // v1 commits FULL (every file is new — the manifest IS the delta and
    // doubles as the base checkpoint); later commits write only the diff
    // against the parent state: O(touched) bytes instead of O(live).
    // The diff costs O(parent + new) driver memory — no more than the
    // commit already holds to plan `files` — and an entry whose stats
    // changed under an unchanged path simply re-adds.
    val body =
      if (v <= 1L) files.map(_.serialize).mkString("\n")
      else {
        val prevSer = parent.get.entries
          .map(e => e.path -> e.serialize).toMap
        val newPaths = files.map(_.path).toSet
        val removes = prevSer.keysIterator.filterNot(newPaths).toSeq.sorted
        val adds =
          files.filter(e => !prevSer.get(e.path).contains(e.serialize))
        (removes.map(p => s"remove\t$p") ++
          adds.map(e => s"add\t${e.serialize}")).mkString("\n")
      }
    val payload = (header + body + "\n").getBytes(StandardCharsets.UTF_8)
    val dest = if (v <= 1L) manifestPath(v) else deltaPath(v)
    if (!atomicExclusiveWrite(dest, payload, token))
      throw new IllegalStateException(
        s"commit conflict: version $v already exists at $path")
    writeLatestHint(v)
    // seed the cache with the committed state: the next commit's diff
    // and any immediate read resolve with zero replay
    val committed = Manifest(
      files,
      Some(StructType(schema.fields.map(_.copy(nullable = true)))),
      commitSpecLine, // Some("") = explicit flat, exactly as re-parsed
      allChecks,
      Some(commitLayout).filterNot(_ == DefaultLayout),
      commitProps)
    manifestCache.synchronized(manifestCache.put(v, committed))
    // periodic full checkpoint AFTER the delta wins — best-effort (a
    // lost one costs replay depth, never correctness), and only the
    // commit winner reaches here so there is no checkpoint race
    if (v > 1L && v % checkpointInterval == 0L) {
      writeCheckpoint(v, checkpointPayload(v, committed))
      maybeWriteParquetCheckpoint(v, committed)
    }
  }

  /** Write `payload` to `dest` with atomic-EXCLUSIVE semantics — the
    * commit point of [[commitManifest]] and [[createBranch]]'s fork:
    * exactly one writer lands the destination name; every loser sees
    * `false` and nothing partial is ever visible. The namespace op is
    * chosen per filesystem (see [[commitManifest]]'s scaladoc):
    * hard-link on `file:` (rename REPLACES there), verified rename
    * elsewhere. `token` must be unique per attempt — it names the tmp
    * file and is embedded in the payload, which is what the
    * replacing-rename read-back verifies. */
  private def atomicExclusiveWrite(dest: Path, payload: Array[Byte],
                                   token: String): Boolean = {
    val tmp = new Path(s"$commitsDir/.tmp-$token")
    val out = fs.create(tmp, true)
    try out.write(payload)
    finally out.close()
    // getUri, not getScheme: RawLocalFileSystem (and other bare
    // FileSystem subclasses) never override getScheme and the base
    // class THROWS — the URI's scheme is always present
    if (fs.getUri.getScheme == "file") {
      val local = (p: Path) =>
        java.nio.file.Paths.get(p.toUri.getPath) match {
          case abs if abs.isAbsolute => abs
          case rel => rel.toAbsolutePath
        }
      try {
        java.nio.file.Files.createLink(local(dest), local(tmp))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally fs.delete(tmp, false)
    } else {
      val renamed = fs.rename(tmp, dest)
      val ok = renamed && {
        val in = fs.open(dest)
        try java.util.Arrays.equals(
          org.apache.commons.io.IOUtils.toByteArray(in), payload)
        finally in.close()
      }
      if (!renamed) fs.delete(tmp, false)
      ok
    }
  }

  /** The header lines every commit record starts with, in ONE
    * serializer: the delta/manifest writer ([[commitManifest]]) and
    * the checkpoint writer ([[checkpointPayload]]) must stay
    * byte-compatible — a drift between two copies would make
    * checkpoints replay to a different state than the delta chain.
    * The partition line is layout metadata readers MUST know (a
    * handle without it would mis-plan a partitioned table);
    * properties sort so byte-identical metadata commits stay
    * reproducible. */
  private def headerLines(v: Long, token: String,
                          schemaJson: Option[String],
                          partitionCsv: Option[String],
                          checks: Seq[(String, String)],
                          layout: Option[Layout],
                          props: Map[String, String]): String = {
    val schemaLine = schemaJson.map(j => s"schema\t$j\n").getOrElse("")
    // Some("") = explicitly flat → the marker line; None = no line
    val pcLine = partitionCsv
      .map(p => s"partition\t${
        if (p.isEmpty) SnapshotTable.FlatSpecMarker else p}\n")
      .getOrElse("")
    val checkLines = checks.map { case (n, sql) =>
      s"check\t${encHdr(n)}\t${encHdr(sql)}\n" }.mkString
    val layoutLine = layout.filterNot(_ == DefaultLayout)
      .map(l => s"layout\t${encCols(l.statsCols)}\t${encCols(l.clusterBy)}\t" +
        s"${l.clusterFiles}\t${encCols(l.bloomCols)}\t${l.bloomItems}\t" +
        s"${l.bloomFpp}\n").getOrElse("")
    val propLines = props.toSeq.sortBy(_._1).map { case (k, vl) =>
      s"property\t${encHdr(k)}\t${encHdr(vl)}\n" }.mkString
    s"version\t$v\ntoken\t$token\n" + schemaLine + pcLine + checkLines +
      layoutLine + propLines
  }

  /** Serialize full state `m` as a checkpoint manifest payload —
    * byte-compatible with what a v1/pre-delta commit writes
    * ([[headerLines]]), so every reader path parses checkpoints and
    * full manifests identically. */
  private def checkpointPayload(v: Long, m: Manifest): Array[Byte] =
    (headerLines(v, UUID.randomUUID().toString, m.schema.map(_.json),
      m.partitionCol, m.checks, m.layout, m.props) +
      m.entries.map(_.serialize).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8)

  /** Best-effort checkpoint write — NEVER a commit point: rename onto
    * the manifest name, failures swallowed (readers just replay more
    * deltas; vacuum re-materializes at the horizon). */
  private def writeCheckpoint(v: Long, payload: Array[Byte]): Unit =
    try {
      val tmp = new Path(s"$commitsDir/.cp-${UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(payload) finally out.close()
      if (!fs.rename(tmp, manifestPath(v))) fs.delete(tmp, false)
    } catch { case _: Exception => () }

  /** Files-per-manifest threshold below which the parquet checkpoint
    * is skipped: a small table gains nothing from a distributed parse
    * and would pay a Spark write job per checkpoint. Tunable via the
    * `graft.parquetCheckpointMinFiles` property (0 forces one — what
    * the parity spec uses). */
  private def parquetCkptMinFiles: Int =
    effectiveProps.get("graft.parquetCheckpointMinFiles")
      .flatMap(_.toIntOption).getOrElse(2000)

  private def parquetCkptPath(v: Long): Path =
    new Path(f"$commitsDir/ckpt-v$v%09d.parquet")

  /** Best-effort PARQUET twin of a text checkpoint: the entry list as
    * a columnar, splittable table (one row per live file; stats as
    * sorted parallel key/min/max arrays). This is Delta's
    * checkpoint-parquet move: at ~10^6 live files the text checkpoint
    * is a multi-hundred-MB single-threaded driver parse per cold
    * open, while the parquet twin decodes on EXECUTORS and ships the
    * driver compact binary rows ([[readCheckpointBase]]). The text
    * checkpoint stays authoritative (headers + fallback), so a
    * missing or corrupt parquet twin costs speed, never correctness. */
  private def maybeWriteParquetCheckpoint(v: Long, m: Manifest): Unit =
    try {
      if (m.entries.size >= parquetCkptMinFiles) {
        val rows = m.entries.map(SnapshotTable.ckptRowOf)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows,
            math.max(1, math.min(32, rows.size / 50000))),
          CkptSchema)
        val tmp = new Path(s"$commitsDir/.cpq-${UUID.randomUUID()}")
        // the tmp dir must go whenever the rename did NOT land — a
        // mid-write throw would otherwise orphan partial twins that
        // accumulate forever on flaky stores (vacuum also sweeps aged
        // .cpq-* leftovers as a second line of defense)
        var landed = false
        try {
          df.write.parquet(tmp.toString)
          landed = fs.rename(tmp, parquetCkptPath(v))
        } finally if (!landed) fs.delete(tmp, true)
      }
    } catch { case _: Exception => () }

  /** The full state at checkpoint version `c`: entries from the
    * parquet twin when one exists (distributed columnar decode, the
    * 100 TB cold-open path), headers from an O(header) streaming read
    * of the text record; full driver text parse otherwise — and as
    * the fallback for ANY parquet-side failure. */
  private def readCheckpointBase(c: Long): Manifest = {
    val pq = parquetCkptPath(c)
    if (fs.exists(pq)) {
      try {
        val hdr = parseHeader(manifestPath(c), c)
        val entries = spark.read.schema(CkptSchema)
          .parquet(pq.toString).collect().iterator
          .map(SnapshotTable.entryOfCkptRow).toSeq
        return Manifest(entries, hdr.schema, hdr.partitionCol,
          hdr.checks, hdr.layout, hdr.props)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val pcm = parseCommit(manifestPath(c), c)
    Manifest(pcm.entries, pcm.schema, pcm.partitionCol,
      pcm.checks, pcm.layout, pcm.props)
  }

  /** LAZY cold-open scan state for the DSv2 path: the snapshot's live
    * entries as an UNCOLLECTED DataFrame — the parquet checkpoint twin
    * (executor-decoded, columnar) minus the delta chain's net removes,
    * plus its net adds — together with the resolved version and the
    * HEADER state of `v` (schema/spec/props, O(header) streaming
    * reads). The driver holds O(net delta + headers), never O(live
    * files); [[ManifestFileIndex]]'s lazy mode then materializes only
    * the partitions a scan's filters keep. None routes the caller to
    * the eager path whenever that is the right call:
    *  - no parquet twin under the replay chain (text cold-open rules);
    *  - the version (or a chain base) is already reconstructed in this
    *    handle's cache — replay from memory beats extra Spark jobs;
    *  - the twin is below `graft.lazyPlanMinTwinBytes` (default 4 MiB
    *    ≈ tens of thousands of entries): small tables parse faster on
    *    the driver than the lazy path's planning jobs run;
    *  - the net delta exceeds the isin() plan-literal budget;
    *  - no logged schema (pre-schema manifests must infer via footers).
    * The twin is trusted as written — it landed via atomic rename, so
    * a visible twin is complete; the eager path keeps its text-side
    * fallback for paranoia. */
  private[graft] def lazyScanState(version: Option[Long])
      : Option[(Long, DataFrame, StructType, Seq[String])] = {
    val v = version.orElse(currentVersion).getOrElse(return None)
    if (v < 1) return None
    if (manifestCache.synchronized(manifestCache.get(v)) != null) return None
    // header of the TOP record: every commit re-logs headers whole
    val headRec =
      if (fs.exists(manifestPath(v))) parseHeader(manifestPath(v), v)
      else if (fs.exists(deltaPath(v))) parseHeader(deltaPath(v), v)
      else return None
    if (headRec.schema.isEmpty) return None
    val gate = tableProps.get("graft.lazyPlanMinTwinBytes")
      .orElse(headRec.props.get("graft.lazyPlanMinTwinBytes"))
      .flatMap(_.toLongOption).getOrElse(4L * 1024 * 1024)
    var deltas = List.empty[Long] // ascending: prepended as c descends
    var c = v
    while (c >= 1) {
      if (c != v && manifestCache.synchronized(manifestCache.get(c)) != null)
        return None // materialized base: eager replay is cheap from here
      if (fs.exists(manifestPath(c))) {
        val pq = parquetCkptPath(c)
        if (!fs.exists(pq)) return None
        if (fs.getContentSummary(pq).getLength < gate) return None
        val adds = new java.util.LinkedHashMap[String, FileEntry]
        val removes = new java.util.LinkedHashSet[String]
        deltas.foreach { dv =>
          val pcm = parseCommit(deltaPath(dv), dv)
          pcm.removes.foreach { p => adds.remove(p); removes.add(p) }
          pcm.adds.foreach { e => removes.remove(e.path); adds.put(e.path, e) }
        }
        if (adds.size + removes.size > 20000) return None
        import scala.jdk.CollectionConverters._
        val twin = spark.read.schema(CkptSchema).parquet(pq.toString)
        // a path the chain touched is EXCLUDED from the twin wholesale
        // (re-adds carry the delta's entry, whose stats may differ)
        val excl = (removes.asScala ++ adds.keySet.asScala).toSeq
        val base =
          if (excl.isEmpty) twin
          else twin.filter(!col("path").isin(excl: _*))
        val composed =
          if (adds.isEmpty) base
          else base.unionByName(spark.createDataFrame(
            adds.values.asScala.toSeq.map(SnapshotTable.ckptRowOf).asJava,
            CkptSchema))
        // the VERSION'S OWN logged spec (scanInfo's contract); an
        // absent line means unpartitioned on every modern manifest
        // (pre-layout legacies predate twins and never reach here)
        return Some((v, composed, headRec.schema.get,
          headRec.partitionCol.map(SnapshotTable.specOfCsv).getOrElse(Nil)))
      } else if (fs.exists(deltaPath(c))) { deltas ::= c; c -= 1 }
      else return None
    }
    None
  }

  /** Snapshot read of a specific version (time travel), typed by that
    * version's logged schema. */
  def readVersion(v: Long): DataFrame = {
    val m = readManifest(v)
    readFiles(m.entries, m.schema)
  }

  /** Timestamp-based time travel (Delta's `timestampAsOf`): the highest
    * version whose manifest was committed at or before `epochMs` —
    * manifest file mtimes ARE the commit times (the atomic namespace op
    * stamps them). None if the table didn't exist yet. O(versions)
    * metadata probes bounded by the retained history. */
  def versionAt(epochMs: Long): Option[Long] = {
    val head = currentVersion.getOrElse(return None)
    // walk back from the head until a commit record is old enough;
    // vacuumed versions end the walk (their commit times are unknowable)
    var v = head
    var rec = commitRecord(v)
    while (v >= 1 && rec.exists(p =>
             fs.getFileStatus(p).getModificationTime > epochMs)) {
      v -= 1
      rec = if (v >= 1) commitRecord(v) else None
    }
    if (v >= 1 && rec.isDefined) Some(v) else None
  }

  /** Whether version `v`'s commit record is still retained (committed
    * and not vacuumed) — metadata probes only, no parse. */
  def hasVersion(v: Long): Boolean = v >= 1 && versionExists(v)

  /** The table's retained commit history, newest first: (version,
    * commitTimeMs, liveFileCount). Commit times are the manifest file
    * mtimes (the atomic commit op stamps them); vacuumed versions are
    * absent. O(retained versions) metadata probes — the walk stops at
    * the vacuum horizon, never scanning data. */
  def history: Seq[(Long, Long, Int)] = {
    val head = currentVersion.getOrElse(return Nil)
    // find the vacuum horizon first (metadata probes only), then
    // reconstruct ASCENDING: each version's state builds on the
    // just-cached previous one — one delta parse per version — where
    // a newest-first walk would miss the 4-entry LRU every time and
    // replay up to checkpointInterval records per version
    val retained = (1L to head).reverse.iterator
      .map(v => v -> commitRecord(v))
      .takeWhile(_._2.isDefined)
      .map { case (v, r) => (v, r.get) }.toSeq
    retained.reverse.map { case (v, p) =>
      (v, fs.getFileStatus(p).getModificationTime,
        readManifest(v).entries.size)
    }.reverse
  }

  /** Snapshot read as of a wall-clock instant ([[versionAt]]). */
  def readAsOf(epochMs: Long): DataFrame =
    readVersion(versionAt(epochMs).getOrElse(throw new IllegalStateException(
      s"no snapshot at $path existed at epochMs=$epochMs")))

  /** The current version's parsed manifest. */
  private def currentManifest: Manifest =
    readManifest(currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path")))

  /** Snapshot read of the current version. */
  def read: DataFrame = readVersion(currentVersion.getOrElse(
    throw new IllegalStateException(s"no committed snapshot at $path")))

  private def partOf(rel: String): String = SnapshotTable.partOf(rel)

  /** Run `f` over `items` on a bounded thread pool, rethrowing the
    * first failure. Per-file metadata ops (rename / mkdirs / footer
    * reads) are driver-side RPCs: a commit touching thousands of files
    * pays them sequentially otherwise, and on an object store each one
    * is a network round-trip — issuing them concurrently is what every
    * production committer does. Hadoop FileSystem instances are
    * thread-safe for these calls. */
  private def inParallel[A, B](items: Seq[A], threads: Int = 32)
                              (f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.size))
      try {
        val futures = items.map(a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            override def call(): B = f(a)
          }))
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // stop issuing queued work and rethrow the ORIGINAL error —
            // callers match on the bare failure, not the wrapper
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }

  /** Write `df` as new immutable data files and return their
    * table-relative paths. The batch lands in a staging dir, then files
    * move (same-FS renames, metadata ops) into the canonical tree under
    * a fresh commit id so basePath partition parsing spans commits. */
  private def writeDataFiles(df: DataFrame,
                             packFiles: Option[Int] = None,
                             dirHint: Option[Int] = None): Seq[FileEntry] =
    promoteStage(stageWrite(df, packFiles, dirHint),
      Some(StructType(df.schema.fields.map(_.copy(nullable = true)))))

  /** Write `df` under the table's layout into a fresh commit-private
    * staging dir and return its commit id; [[promoteStage]] (or the
    * stage-first merge, [[mergeStaged]]) takes it from there. */
  private def stageWrite(df: DataFrame,
                         packFiles: Option[Int] = None,
                         dirHint: Option[Int] = None): String = {
    val commitId = UUID.randomUUID().toString.take(8)
    val stage = stageDirFor(commitId)
    val lay = effectiveLayout
    val clustered =
      if (lay.clusterBy.nonEmpty) {
        // range-cluster (within the partition column when present) so
        // each file covers a narrow slice of the cluster columns —
        // the precondition for min/max skipping to actually skip.
        // packFiles (compaction) overrides the pinned count but keeps
        // the clustering, so compacted files stay skippable.
        val cs = (tablePartitionCols ++ lay.clusterBy).map(col)
        val nf = packFiles.getOrElse(lay.clusterFiles)
        val ranged = if (nf > 0) df.repartitionByRange(nf, cs: _*)
                     else df.repartitionByRange(cs: _*)
        ranged.sortWithinPartitions(cs: _*)
      } else (tablePartitionCols, packFiles) match {
        // one file per partition; count pinned so AQE can't collapse a
        // small batch over many partitions onto one task that pays every
        // per-dir file round-trip sequentially (38s vs 7s at the
        // pipeline's 2,400-date shape, same one-file-per-dir layout).
        // dirHint: when the caller already KNOWS how many distinct
        // partition dirs the batch touches (merge/rewrite/compact
        // collect that set anyway), cap the width at that count — hash
        // repartitioning by the partition key makes at most one reduce
        // task per dir non-empty, so tasks beyond nDirs are always
        // empty: pure scheduling overhead (guide §2.2). nDirs ≥ the
        // shuffle default keeps the pinned spread unchanged, so the
        // 2,400-dir shape above still fans out fully.
        case (cs, _) if cs.nonEmpty =>
          val sp = spark.sessionState.conf.numShufflePartitions
          val width = dirHint.fold(sp)(n => math.min(sp, math.max(1, n)))
          df.repartition(width, cs.map(col): _*)
        case (_, Some(n)) => df.repartition(math.max(n, 1))
        case (_, None) => df
      }
    // The stage dir is commit-private and atomicity comes from the
    // manifest swap, not the output committer — so the committer only
    // has to land files in the stage tree, and the ENVIRONMENT default
    // algorithm is deliberately kept. Forcing v2 here measured ~1.7×
    // SLOWER at the pipeline's 2,400-dir daily shape (WriteShapeProbe:
    // v2 9–12s vs v1 5.8–7.5s per write): hash partitioning gives each
    // task DISJOINT partition dirs, so v1's job commit renames whole
    // directories, while v2 pays a rename per FILE at task commit —
    // and v2 is deprecated upstream for task-retry correctness anyway.
    // Deployments on rename-less object stores configure a cloud
    // committer via Hadoop conf; nothing below assumes rename
    // semantics. The _SUCCESS marker is meaningless one level below a
    // manifest commit.
    val w = clustered.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    (if (tablePartitionCols.isEmpty) w
      else w.partitionBy(tablePartitionCols: _*)).parquet(stage)
    commitId
  }

  /** The task-COMMITTED parquet files of a staging tree as (file,
    * stage-relative path, length, mtime). `_tmp-*` subtrees are
    * task-attempt-PRIVATE: a hard-killed executor (no abort hook)
    * leaves its partial files there, and promoting one would commit a
    * truncated parquet. Only files a task attempt COMMITTED (moved out
    * of its _tmp dir) count. `only` narrows further to an explicit
    * stage-relative file set — the streaming sink's replayed epochs
    * re-use a deterministic stage dir, so a crashed prior attempt's
    * committed leftovers may be lying beside the re-run's files and
    * must not ride along. The walk only LISTS (one RPC per dir);
    * length and mtime come from that listing, so the manifest records
    * a complete scan plan with no extra filesystem calls. NOTE: mtimes
    * are STAGE-TIME approximations — exact where rename preserves them
    * (POSIX, HDFS), drifting on copy-based-rename stores (S3A). They
    * exist only to populate FileStatus for scan planning; nothing may
    * use them for freshness logic (commit times live on the MANIFEST
    * files). */
  private def walkStage(commitId: String, only: Option[Set[String]])
      : Seq[(Path, String, Long, Long)] = {
    val stage = new Path(stageDirFor(commitId))
    val out = mutable.Buffer.empty[(Path, String, Long, Long)]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          if (!name.startsWith("_tmp-")) walk(st.getPath, childRel)
        } else if (name.endsWith(".parquet") &&
            only.forall(_.contains(childRel)))
          out += ((st.getPath, childRel, st.getLen, st.getModificationTime))
      }
    // a rewrite can legitimately stage nothing (e.g. a row-level delete
    // of every scanned row): no stage dir, no files
    if (fs.exists(stage)) walk(stage, "")
    out.toSeq
  }

  /** The staged files ([[walkStage]]) with ONE footer read each: the
    * entry, under its stage-relative path, carries the file's row
    * count, length, mtime, the layout's min/max stats and the per-column
    * null counts — everything the manifest records, and everything the
    * stage-first merge decides its scope from. ZERO-ROW part files are
    * dropped here: Spark's range/hash writers nondeterministically emit
    * empty parts for empty or skewed inputs, and an empty file is worse
    * than useless in a manifest — it has NO column stats, so every
    * stats-scoped merge would conservatively treat it as touched
    * forever (no size gate: a very wide schema can push even an empty
    * footer past any fixed byte bound). */
  private def probeStage(commitId: String, only: Option[Set[String]])
      : Seq[(Path, FileEntry)] = {
    val statCols = effectiveLayout.statsCols
    inParallel(walkStage(commitId, only)) {
      case (src, rel, len, mtime) =>
        val (rows, stats) = footerProbe(src, statCols)
        (src, FileEntry(rel,
          stats + FileEntry.metaStat(len, mtime) + FileEntry.rowsStat(rows)))
    }.filter(_._2.rows > 0L)
  }

  /** Move a fully-written staging tree into the canonical data dir and
    * index it: walk, footer stats, per-file rename, blooms. Shared by
    * [[writeDataFiles]] (the engine's own spark-write staging) and the
    * DSv2 writers (whose tasks stage files directly). */
  private def promoteStage(commitId: String,
                           bloomSchema: Option[StructType],
                           only: Option[Set[String]] = None): Seq[FileEntry] =
    promoteProbed(commitId, probeStage(commitId, only), bloomSchema)

  /** [[promoteStage]] over an already-probed stage. A per-commit
    * counter makes every BASENAME globally unique: Spark's
    * dynamic-partition writer can emit the same task file name into
    * two partition dirs (per-dir counter, same task UUID), and
    * fileBlooms matches input_file_name back to manifest entries by
    * basename — a collision there would attach the wrong bloom. The
    * per-file mkdirs+rename moves run concurrently. */
  private def promoteProbed(commitId: String, staged: Seq[(Path, FileEntry)],
                            bloomSchema: Option[StructType]): Seq[FileEntry] = {
    val moving = staged.zipWithIndex.map { case ((src, e), i) =>
      val cut = e.path.lastIndexOf('/') + 1
      (src, e.copy(path =
        s"${e.path.take(cut)}$commitId-$i-${e.path.drop(cut)}"))
    }
    inParallel(moving) { case (src, e) =>
      val dest = new Path(s"$dataDir/${e.path}")
      fs.mkdirs(dest.getParent)
      if (!fs.rename(src, dest))
        throw new IllegalStateException(s"data move failed: $dest")
    }
    fs.delete(new Path(stageDirFor(commitId)), true)
    val entries = moving.map(_._2)
    val blooms = fileBlooms(entries, bloomSchema)
    entries.map(e => e.copy(stats = e.stats ++ blooms.getOrElse(e.path, Map.empty)))
  }

  /** Commit the staged output of an external (DSv2 row-level) writer as
    * ONE atomic partition-level copy-on-write replacement: the staged
    * files REPLACE exactly `replacedPaths` (the files the operation's
    * scan read); every other live file carries over by reference. A
    * replaced file no longer live at commit time means another writer
    * rewrote it since the scan — fail instead of silently dropping that
    * writer's rows (write-write conflict, Delta-style). */
  private[graft] def commitStagedReplace(commitId: String,
                                         replacedPaths: Set[String],
                                         schema: StructType,
                                         only: Option[Set[String]] = None)
      : Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val live = readManifest(v).entries
    val gone = replacedPaths -- live.map(_.path).toSet
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"concurrent modification at $path: replaced file(s) no longer " +
          s"live: ${gone.take(3).mkString(", ")}")
    val carried = live.filterNot(e => replacedPaths(e.path))
    // `only` = the union of task-REPORTED files: a task attempt that
    // committed its files to the stage dir but died before its status
    // reached the driver gets retried under a new task id, and
    // promoting the whole dir would commit BOTH attempts' copies
    val fresh =
      if (headIdMapped) rewriteStagedWithIds(commitId, schema, only)
      else promoteStage(commitId,
        Some(StructType(schema.fields.map(_.copy(nullable = true)))),
        only = only)
    // a no-op operation (runtime group filter matched nothing: no file
    // replaced, nothing staged) commits nothing — same contract as the
    // API DML paths, so repeated no-op SQL never churns versions
    if (fresh.isEmpty && replacedPaths.isEmpty) return
    commitManifest(v + 1, carried ++ fresh, schema)
  }

  /** Commit a STREAMING sink's staged epoch as ONE atomic append
    * (truncate = complete-mode replace), idempotently: the committed
    * epoch high-water mark rides the manifest as a table property
    * (`streamKey` → epochId), so a replayed micro-batch — Spark
    * re-running an epoch whose sink commit landed but whose checkpoint
    * commit-log record didn't — finds the mark already at/past its
    * epoch and drops its re-staged files instead of appending them
    * twice. This is the txnAppId/txnVersion idempotence public Delta
    * implements for its streaming sink. A concurrent writer advancing
    * the head between our manifest read and commit only re-bases the
    * append (bounded retries); the epoch mark is re-checked under every
    * new head so a zombie attempt of the same query can never
    * double-commit. Returns true when the epoch committed, false on a
    * detected replay. */
  private[graft] def commitStagedStreamAppend(commitId: String,
                                              schema: StructType,
                                              streamKey: String,
                                              epochId: Long,
                                              truncate: Boolean,
                                              stagedFiles: Set[String])
      : Boolean = {
    def epochDone(v: Option[Long]): Boolean =
      v.flatMap(readManifest(_).props.get(streamKey))
        .exists(_.toLong >= epochId)
    if (epochDone(currentVersion)) { abortStaged(commitId); return false }
    // promote ONLY this attempt's task-reported files: the stage dir's
    // name is deterministic per epoch, so a crashed earlier attempt of
    // the same epoch may have left committed files beside ours
    val fresh =
      if (headIdMapped)
        rewriteStagedWithIds(commitId, schema, Some(stagedFiles))
      else promoteStage(commitId,
        Some(StructType(schema.fields.map(_.copy(nullable = true)))),
        only = Some(stagedFiles))
    pendingProps(streamKey) = epochId.toString
    var attempt = 0
    while (true) {
      val head = currentVersion
      if (epochDone(head))
        // another attempt of this very epoch won the race after we
        // promoted: our files are unreferenced orphans, vacuum's sweep
        // reclaims them
        return false
      val headManifest = head.map(readManifest)
      val carried =
        if (truncate) Nil
        else headManifest.map(_.entries).getOrElse(Nil)
      // commit the HEAD's schema whenever it covers ours (same rule as
      // append's conflict retry): losing a version race to a schema
      // evolution must not revert it — our files read any added column
      // as null
      val commitSchema = headManifest.flatMap(_.schema) match {
        case Some(hs) if schema.fieldNames.forall(hs.fieldNames.contains) => hs
        case _ => schema
      }
      try {
        commitManifest(head.getOrElse(0L) + 1L, carried ++ fresh, commitSchema)
        return true
      } catch {
        // retry ONLY genuine version races (the batch append path's
        // contract): any other IllegalStateException — e.g. a CHECK
        // analysis failure — is deterministic and re-running the whole
        // promote/commit five times against it just delays the error
        case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("commit conflict")
            && attempt < 5 => attempt += 1
      }
    }
    false // unreachable
  }

  /** MERGE-mode streaming epoch: the staged batch upserts by this
    * handle's primaryKey in ONE commit that also logs the epoch
    * high-water mark, with the same replay detection as the append
    * sink. On a scoped table (partitioned, or clustered with stats)
    * the epoch commits through [[upsert]]'s own stage-first merge
    * ([[mergeStaged]]) straight from the task-staged files: the plan
    * rule's inputs come from their footers and partition dirs, the
    * merge-on-read side promotes them (re-written with field ids on
    * id-mapped tables) and the copy-on-write side reads them back as
    * its source. An unscoped table or a `mergeSchema` epoch reads the
    * staged parquet back (schema from the write, dirs as partition
    * values) and feeds it through [[upsert]]. Either way merge
    * semantics cannot diverge between the batch API and the streaming
    * sink: same scope, same PK→partition contract, and the staged
    * writer already enforced the CHECK constraints. */
  private[graft] def commitStagedStreamUpsert(commitId: String,
                                              schema: StructType,
                                              streamKey: String,
                                              epochId: Long,
                                              stagedFiles: Set[String],
                                              evolve: Boolean = false)
      : Boolean = withSizeDerivedSplits {
    def epochDone: Boolean =
      currentVersion.flatMap(readManifest(_).props.get(streamKey))
        .exists(_.toLong >= epochId)
    if (epochDone) { abortStaged(commitId); return false }
    val stage = stageDirFor(commitId)
    pendingProps(streamKey) = epochId.toString
    try {
      currentVersion match {
        case Some(v) if !evolve && mergeScoped =>
          val m = readManifest(v)
          mergeStaged(v, m, commitId, Some(stagedFiles),
            m.schema.getOrElse(schema), external = true)
          return true
        case _ => ()
      }
      val batch =
        if (stagedFiles.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else {
          // read back EXACTLY the attempt's reported files (a crashed
          // prior attempt of this epoch may have left others beside them)
          val paths = stagedFiles.toSeq.sorted.map(rel => s"$stage/$rel")
          // the full (relaxed) schema types BOTH the data files and the
          // partition-dir values — nothing is inferred from I/O
          val raw = spark.read.option("basePath", stage)
            .schema(StructType(schema.fields.map(_.copy(nullable = true))))
            .parquet(paths: _*)
          raw.select(schema.fields.toIndexedSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
        }
      if (batch.isEmpty) {
        // still advance the mark: a replayed empty epoch must not wait
        // for a later batch to record progress
        currentVersion match {
          case Some(v) =>
            val m = readManifest(v)
            commitManifest(v + 1, m.entries,
              m.schema.getOrElse(readFiles(m.entries).schema))
          case None => createEmpty(schema)
        }
      } else upsert(batch, evolveSchema = evolve)
      true
    } finally fs.delete(new Path(stage), true)
  }

  /** ID-MAPPED alternative to [[promoteStage]]: external (DSv2) task
    * writers emit the query schema verbatim, so their staged files
    * carry no parquet field ids — promoting one into an id-mapped
    * table would leave a file the id-matching reader reads as nulls.
    * Read the staged batch back (by NAME: the id-less schema makes the
    * readers fall back to name resolution, which is exactly how the
    * writer laid the files out) and re-write it through the table's
    * own writer, which stamps the ids. One extra O(batch) pass, never
    * O(table), only on id-mapped tables. */
  private def rewriteStagedWithIds(commitId: String, schema: StructType,
                                   only: Option[Set[String]])
      : Seq[FileEntry] = {
    val stage = stageDirFor(commitId)
    val paths = walkStage(commitId, only).map(_._1.toString)
    val out =
      if (paths.isEmpty) Nil
      else {
        val batch = spark.read.option("basePath", stage)
          .schema(withoutIds(schema)).parquet(paths: _*)
        writeDataFiles(stampFieldIds(batch))
      }
    fs.delete(new Path(stage), true)
    out
  }

  /** `schema` relaxed to nullable with every parquet field id
    * stripped: how a staged batch is read back — by NAME, which is how
    * any stager laid its files out. */
  private def withoutIds(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(nullable = true,
      metadata = SnapshotTable.mdWithoutId(f.metadata))))

  /** Head logged schema is fully id-mapped (staged promotions must
    * re-write, see [[rewriteStagedWithIds]]). */
  private def headIdMapped: Boolean =
    currentVersion.flatMap(readManifest(_).schema)
      .exists(SnapshotTable.idMapped)

  /** Drop an external writer's staging tree (DSv2 write abort). */
  private[graft] def abortStaged(commitId: String): Unit =
    fs.delete(new Path(s"$path/_stage/$commitId"), true)

  /** Where an external (DSv2) writer's tasks stage files for
    * [[commitStagedReplace]]. */
  private[graft] def stageDirFor(commitId: String): String =
    s"$path/_stage/$commitId"

  /** One Bloom filter per (new file × bloom column), built in a SINGLE
    * distributed pass over the commit's new files: rows group by
    * `input_file_name()` and each group folds into a
    * [[graft.functions.BloomSketch]] typed-UDAF sketch — only the
    * finished sketches (one row per file) come back to the driver.
    * Files match manifest entries by basename (commit-UUID-prefixed,
    * so unique; partition DIRS can be Hive/URI-escaped in
    * `input_file_name`, basenames never are). */
  private def fileBlooms(entries: Seq[FileEntry],
                         writeSchema: Option[StructType])
      : Map[String, Map[String, (String, String)]] = {
    val lay = effectiveLayout
    val bCols = lay.bloomCols
    if (bCols.isEmpty || entries.isEmpty) return Map.empty
    import graft.functions.BloomSketch
    val df = readFiles(entries, writeSchema)
    val aggs = bCols.map { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType =>
          BloomSketch.longBloom(col(c).cast("long"), lay.bloomItems, lay.bloomFpp).as(c)
        case org.apache.spark.sql.types.StringType =>
          BloomSketch.stringBloom(col(c), lay.bloomItems, lay.bloomFpp).as(c)
        case other => throw new IllegalArgumentException(
          s"bloom index on $c: unsupported type $other (integral/string only)")
      }
    }
    // tag each bloom with the type family it was built from (long vs
    // string): a probe of the OTHER family hashes differently and would
    // prune files that DO contain the key — candidateFilesEq only
    // consults same-family blooms
    val kinds = bCols.map { c =>
      c -> (df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => "BS:"
        case _ => "BL:"
      })
    }.toMap
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val byBase = entries.map(e => e.path.split('/').last -> e.path).toMap
    rows.iterator.flatMap { r =>
      byBase.get(r.getString(0).split('/').last).map { rel =>
        rel -> bCols.zipWithIndex.map { case (c, i) =>
          FileEntry.bloomKey(c) ->
            ((kinds(c) + java.util.Base64.getEncoder.encodeToString(
              r.getAs[Array[Byte]](i + 1))), kinds(c))
        }.toMap
      }
    }.toMap
  }

  /** ONE parquet-footer read per NEW file, driver-side, yielding the
    * file's ROW COUNT plus the per-column min/max of `statsCols` (the
    * same information a production writer would collect task-side
    * during the write, as Iceberg does; footers are the no-write-hook
    * equivalent). A column missing stats in any row group is left
    * unstated = never pruned. */
  private def footerProbe(file: Path, statCols: Seq[String])
      : (Long, Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      file, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = reader.getRecordCount
      val wanted = statCols.toSet
      val allChunks = reader.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString)
      val chunks = allChunks.filter { case (n, _) => wanted(n) }
      // per-column NULL COUNTS for every TOP-LEVEL primitive column
      // (footer-exact, same read) — what answers `count(col)` from the
      // manifest. Deliberately NOT limited to statsCols: count(col)
      // targets are unknowable at create time, and the cost is one
      // short key per column per file entry — accepted trade-off vs a
      // `count(col)` that only works on pre-declared columns (a very
      // wide table that cares can declare statsCols and gets minmax
      // confined to them either way). Top-level only: a dotted path
      // is a nested LEAF, and
      // its leaf null count conflates parent-null with leaf-null (a
      // struct can be non-null with null leaves), so `count(struct)`
      // is not derivable from it. A chunk without a recorded null
      // count leaves the column unstated = the scan answers.
      val nulls = allChunks.flatMap { case (name, cs) =>
        if (name.contains('.')) None
        else {
          val ns = cs.map { c =>
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet) None
            else Some(st.getNumNulls)
          }
          if (ns.exists(_.isEmpty)) None
          else Some(FileEntry.nullsStat(name, ns.flatten.sum))
        }
      }
      val stats = chunks.flatMap { case (name, cs) =>
        val vals = cs.map { c =>
          val st = c.getStatistics
          // a LOGICAL annotation changes what the physical value MEANS:
          // DECIMAL int32/64 stats are UNSCALED (5.00 min → 500), DATE
          // is days, TIMESTAMP micros — encoding those under the plain
          // numeric tag would let a plain-number bound prune against
          // values in a different unit and silently skip matching rows
          // (a DELETE would then silently keep data). Each annotation
          // therefore encodes into ITS OWN tag family: plain ints
          // (no annotation / INT(n)) "L:", DATE/TIMESTAMP "T:" in one
          // canonical unit (micros), DECIMAL "C:" carrying its scale,
          // true UTF8 strings "S:". Anything else (INT96, NANOS, enum,
          // UUID…) stays statless = never pruned.
          import org.apache.parquet.schema.LogicalTypeAnnotation
          import LogicalTypeAnnotation.TimeUnit
          val lta = c.getPrimitiveType.getLogicalTypeAnnotation
          val plainInt = lta == null ||
            lta.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
          val utf8 = lta.isInstanceOf[
            LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val isDate = lta.isInstanceOf[
            LogicalTypeAnnotation.DateLogicalTypeAnnotation]
          // micros per stored unit: MICROS 1, MILLIS 1000 (exact);
          // NANOS would truncate and is left statless
          val tsScale = lta match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit match {
                case TimeUnit.MICROS => Some(1L)
                case TimeUnit.MILLIS => Some(1000L)
                case _ => None
              }
            case _ => None
          }
          val decScale = lta match {
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(d.getScale)
            case _ => None
          }
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (mn: java.lang.Number, mx: java.lang.Number)
                if !mn.isInstanceOf[java.lang.Double] &&
                   !mn.isInstanceOf[java.lang.Float] =>
              if (plainInt) Some((s"L:${mn.longValue}", s"L:${mx.longValue}"))
              else if (isDate) Some((
                FileEntry.encMicros(
                  FileEntry.scaleMicros(mn.longValue, FileEntry.MicrosPerDay)),
                FileEntry.encMicros(
                  FileEntry.scaleMicros(mx.longValue, FileEntry.MicrosPerDay))))
              else if (tsScale.isDefined) Some((
                FileEntry.encMicros(
                  FileEntry.scaleMicros(mn.longValue, tsScale.get)),
                FileEntry.encMicros(
                  FileEntry.scaleMicros(mx.longValue, tsScale.get))))
              else decScale.map(s => (
                FileEntry.encDecimal(s,
                  java.math.BigInteger.valueOf(mn.longValue)),
                FileEntry.encDecimal(s,
                  java.math.BigInteger.valueOf(mx.longValue))))
            case (mn: java.lang.Number, mx: java.lang.Number) =>
              Some((s"D:${mn.doubleValue}", s"D:${mx.doubleValue}"))
            case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary)
                if decScale.isDefined =>
              // precision >18 decimals: FIXED_LEN_BYTE_ARRAY, big-endian
              // two's-complement unscaled (parquet-mr only surfaces
              // these stats when the footer ordering is the correct
              // signed one — legacy PARQUET-251 files yield no stats)
              Some((
                FileEntry.encDecimal(decScale.get,
                  new java.math.BigInteger(mn.getBytes)),
                FileEntry.encDecimal(decScale.get,
                  new java.math.BigInteger(mx.getBytes))))
            case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) if utf8 =>
              val (lo, hi) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
              // parquet orders binary stats by unsigned bytes; Java
              // compares UTF-16 chars — the orders agree only on ASCII,
              // so non-ASCII bounds are dropped (file stays unprunable)
              if (lo.forall(_ < 128) && hi.forall(_ < 128))
                Some((FileEntry.encS(lo), FileEntry.encS(hi)))
              else None
            case _ => None
          }
        }
        if (vals.exists(_.isEmpty)) None // a statless row group: stay safe
        else {
          val mins = vals.flatten.map(_._1)
          val maxs = vals.flatten.map(_._2)
          Some(name -> (mins.min(FileEntry.valueOrdering),
                        maxs.max(FileEntry.valueOrdering)))
        }
      }.toMap
      (rows, stats ++ nulls)
    } finally reader.close()
  }

  /** The head manifest's logged CHECK constraints, (name, sql). */
  private def loggedChecks: Seq[(String, String)] =
    currentVersion.map(v => readManifest(v).checks).getOrElse(Nil)

  /** The stats-collection columns in force (ctor-over-logged) — what a
    * maintenance rewrite must preserve, and extend, when it re-layouts
    * the table. */
  private[graft] def statsColumns: Seq[String] = effectiveLayout.statsCols

  /** The linear range-clustering columns in force — a maintenance
    * rewrite that wants a DIFFERENT physical order (z-order) must know
    * the table would re-range every batch on these. */
  private[graft] def clusterColumns: Seq[String] = effectiveLayout.clusterBy

  /** The head manifest's logged table properties. */
  def properties: Map[String, String] =
    currentVersion.map(v => readManifest(v).props).getOrElse(Map.empty)

  /** The properties the NEXT commit will log: logged minus explicit
    * unsets, overridden by constructor values and [[setProperties]]
    * calls on this handle. */
  private def effectiveProps: Map[String, String] =
    (properties -- unsetProps) ++ tableProps ++ pendingProps

  private val pendingProps =
    scala.collection.mutable.Map.empty[String, String]
  private val unsetProps = scala.collection.mutable.Set.empty[String]

  /** Stage properties to ride the NEXT commit of THIS handle — no
    * commit of their own. The lever for atomically coupling metadata
    * to a data change: an incremental view refresh stages its
    * source-version watermark so the merged rows and the watermark
    * land in ONE manifest — a crash can never persist one without the
    * other (the double-apply / lost-update hazard of a separate
    * metadata commit). Staged values stay on every later commit of the
    * handle too, exactly like constructor tableProps. */
  def stageProperties(add: Map[String, String]): Unit =
    pendingProps ++= add

  /** `ALTER TABLE SET/UNSET TBLPROPERTIES` analog: a METADATA-ONLY
    * commit (files carry over by reference) whose manifest logs the
    * updated property map — binding on every subsequently-constructed
    * handle, whatever API it comes through. */
  def setProperties(add: Map[String, String],
                    remove: Seq[String] = Nil): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    // effectiveProps re-applies constructor tableProps after unsets, so
    // an unset through such a handle would commit a silent no-op — same
    // stance as dropCheckConstraint on a ctor-redeclared check
    val ctorRedeclared = remove.filter(tableProps.contains)
    require(ctorRedeclared.isEmpty,
      s"cannot unset ${ctorRedeclared.mkString(", ")} through a handle " +
        "that re-declares them in tableProps — use a handle without the " +
        "constructor override")
    pendingProps ++= add
    unsetProps ++= remove
    pendingProps --= remove
    val m = readManifest(v)
    commitManifest(v + 1, m.entries,
      m.schema.getOrElse(readFiles(m.entries).schema))
  }

  /** `ALTER TABLE ADD COLUMNS` analog: a METADATA-ONLY commit logging
    * the evolved schema. Parquet resolves columns by name, so every
    * already-committed file reads the added columns as null under the
    * new schema — zero data I/O, exactly the upsert(evolveSchema=true)
    * read contract. Existing columns carry over unchanged OR take a
    * SAFE WIDENING (byte/short/int up the integral lattice, float →
    * double — Delta/Iceberg's type-widening set): the parquet reader
    * promotes the physical values natively, and every manifest stat
    * family survives by construction — integral min/max and null
    * counts are tagged "L:" at every width, float/double both "D:",
    * and blooms hash integrals canonically as long ("BL:"), so
    * pruning against widened predicates stays exact. Anything else
    * (narrowing, cross-family, string↔numeric) would reinterpret
    * committed bytes and is refused. Added columns must be nullable
    * (old rows have no value to satisfy NOT NULL). */
  def evolveTo(newSchema: StructType): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val old = m.schema.getOrElse(readFiles(m.entries).schema)
    old.fields.foreach { f =>
      val kept = newSchema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"evolveTo drops column '${f.name}' — schema evolution may " +
            "only add columns"))
      require(kept.dataType == f.dataType ||
          SnapshotTable.isSafeWidening(f.dataType, kept.dataType),
        s"evolveTo changes type of '${f.name}': ${f.dataType} -> " +
          s"${kept.dataType} — only safe widenings (integral up the " +
          "byte<short<int<long lattice, float->double, int->double, " +
          "integral->decimal, decimal precision/scale growth, " +
          "date->timestamp_ntz) are metadata-only")
      // a partition column's values live as STRINGS in directory names,
      // parsed under the logged type and RE-RENDERED by every write:
      // only widenings whose renderings coincide at every shared value
      // are sound (integral→integral: 5 renders "5" at every width —
      // merge scoping and pruning keep matching old dirs). int→double
      // would render the same id as "5" pre- and "5.0" post-widening:
      // two directories for one logical partition, and a PK upsert
      // that misses the old dir's rows — refused, like every other
      // non-integral pair
      require(kept.dataType == f.dataType ||
          !tablePartitionCols.contains(f.name) ||
          (SnapshotTable.integralType(f.dataType) &&
            SnapshotTable.integralType(kept.dataType)),
        s"cannot widen partition column '${f.name}' at $path to " +
          s"${kept.dataType}: Hive directory renderings only coincide " +
          "across integral widths")
      // a bloom column's sketches hash integrals canonically as long
      // ("BL:") — widening it OUT of the integral family (int→double/
      // decimal) would leave committed blooms that can never match a
      // probe of the new type; within the family (int→long) they stay
      // valid verbatim
      require(kept.dataType == f.dataType ||
          !effectiveLayout.bloomCols.contains(f.name) ||
          SnapshotTable.integralType(kept.dataType),
        s"cannot widen bloom-indexed column '${f.name}' at $path to " +
          s"${kept.dataType}: committed blooms hash integrals as long " +
          "and would silently stop matching — drop the bloom index " +
          "(re-layout) first")
    }
    require(newSchema.fields.filterNot(f => old.fieldNames.contains(f.name))
      .forall(_.nullable), "added columns must be nullable (the " +
      "manifest deliberately relaxes nullability at commit — a NOT " +
      "NULL add could not be retained)")
    // a default riding on an added field must analyze NOW (parse,
    // coerce to the field type, constant-fold) — a broken default
    // stored unvalidated would fail every later READ instead of this
    // one ALTER
    newSchema.fields.filterNot(f => old.fieldNames.contains(f.name))
      .foreach { f =>
        if (f.metadata.contains(SnapshotTable.CurrentDefaultKey))
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .analyze(f, "ALTER TABLE ADD COLUMNS")
        if (f.metadata.contains(SnapshotTable.ExistsDefaultKey))
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .analyze(f, "ALTER TABLE ADD COLUMNS",
              SnapshotTable.ExistsDefaultKey)
      }
    // id-mapped tables: existing fields carry their ids forward, added
    // fields get fresh ids above the logged high-water mark — an id is
    // NEVER reused, which is what makes a re-add after dropColumn safe
    val evolved =
      if (!SnapshotTable.idMapped(old)) newSchema
      else {
        var maxId = effectiveProps.get(SnapshotTable.MaxIdProp)
          .flatMap(_.toLongOption)
          .getOrElse(old.fields.flatMap(SnapshotTable.fieldIdOf).max)
        val byName = old.fields.iterator.map(f => f.name -> f.metadata).toMap
        val fs2 = newSchema.fields.map { f =>
          byName.get(f.name) match {
            // the ID carries forward from the old field; everything
            // else (defaults, comments) is the CALLER's metadata — a
            // SET DEFAULT must land, and every caller builds its new
            // schema from the logged fields anyway
            case Some(md) if md.contains(SnapshotTable.FieldIdKey) =>
              f.copy(metadata = SnapshotTable.mdWithId(f.metadata,
                md.getLong(SnapshotTable.FieldIdKey)))
            case Some(_) => f
            case None =>
              maxId += 1
              f.copy(metadata = SnapshotTable.mdWithId(f.metadata, maxId))
          }
        }
        pendingProps(SnapshotTable.MaxIdProp) = maxId.toString
        StructType(fs2)
      }
    if (!fs.exists(evolvedMarker)) fs.create(evolvedMarker, true).close()
    commitManifest(v + 1, m.entries, evolved)
  }

  /** The upsert batch ALIGNED to the logged schema when the merge
    * touches NO live files: committing `src.schema` verbatim would
    * silently NARROW the table (columns a prior evolution added — and
    * their data in untouched files — would vanish from the log). With
    * evolveSchema the omitted columns are appended null-filled;
    * without it the omission is an error, exactly as the touched-file
    * path fails through its schema-conforming select. No-op when the
    * batch covers the schema. */
  private def alignUntouched(src: DataFrame, logged: Option[StructType],
                             evolveSchema: Boolean): DataFrame =
    logged match {
      case Some(ls) =>
        val missing = ls.fields.filterNot(f =>
          src.columns.exists(_.equalsIgnoreCase(f.name)))
        if (missing.isEmpty) src
        else if (evolveSchema) {
          // null-fill, then RESTORE the logged column order (withColumn
          // appends): the committed schema must not reorder the table's
          // columns just because one batch omitted some
          val filled = missing.foldLeft(src)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
          val extras = src.columns.filterNot(c =>
            ls.fieldNames.exists(_.equalsIgnoreCase(c)))
          filled.select((ls.fieldNames ++ extras).toIndexedSeq.map(col): _*)
        }
        else throw new IllegalArgumentException(
          s"upsert batch omits column(s) " +
            s"${missing.map(_.name).mkString(", ")} of $path — pass " +
            "evolveSchema=true to null-fill them")
      case None => src
    }

  /** `schema` with each logged field's METADATA overlaid (logged keys
    * first, data-side wins on conflict, so fresh field-id stamps
    * survive): a null-filled alignment column or a union must never
    * strip the logged defaults/comments/ids from the schema this
    * commit re-logs. */
  private def withLoggedMetadata(schema: StructType,
                                 logged: Option[StructType]): StructType =
    logged match {
      case Some(ls) =>
        val byName = ls.fields.iterator
          .map(f => f.name.toLowerCase -> f.metadata).toMap
        StructType(schema.fields.map { f =>
          byName.get(f.name.toLowerCase) match {
            case Some(md) => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(md).withMetadata(f.metadata).build())
            case None => f
          }
        })
      case None => schema
    }

  /** `ALTER TABLE ... ADD COLUMN ... [DEFAULT <sql>]` analog,
    * METADATA-ONLY (Iceberg V3 initial-default / Delta default
    * values): with a default, rows committed BEFORE the add read the
    * default instead of null — no backfill rewrite. Both halves ride
    * Spark's own default-column machinery: the parquet readers
    * (vectorized and row-based) fill a file-missing column from the
    * field's `EXISTS_DEFAULT` metadata, and SQL INSERTs that omit the
    * column resolve `CURRENT_DEFAULT`. The default is analyzed and
    * CONSTANT-FOLDED here (Spark's `ResolveDefaultColumns.analyze`:
    * parses, type-coerces to `dt`, refuses non-foldable expressions),
    * so `EXISTS_DEFAULT` freezes the add-time value — a later `now()`
    * never rewrites history. Files written after the add materialize
    * the column, so only genuinely-missing chunks fill. Stats/COUNT
    * consumers stay exact for free: a file that predates the column
    * has no stats for it, and every metadata fast path already refuses
    * on missing stats. API upserts of a batch that omits the column
    * still union-fill NULL (DataFrame semantics, as Delta/Iceberg
    * behave); the default applies to READS of files missing the
    * column and to SQL INSERT resolution. */
  def addColumn(name: String, dt: DataType,
                defaultSql: Option[String] = None): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val schema = readManifest(v).schema.getOrElse(
      throw new IllegalStateException(
        s"cannot add columns at $path: no logged schema"))
    require(!schema.fieldNames.contains(name),
      s"column '$name' already exists at $path")
    val md = defaultSql.fold(org.apache.spark.sql.types.Metadata.empty) {
      sql =>
        val probe = org.apache.spark.sql.types.StructField(name, dt,
          nullable = true, new org.apache.spark.sql.types.MetadataBuilder()
            .putString(SnapshotTable.CurrentDefaultKey, sql).build())
        val folded = org.apache.spark.sql.catalyst.util
          .ResolveDefaultColumns.analyze(probe, "ALTER TABLE ADD COLUMNS")
        val frozen = org.apache.spark.sql.catalyst.expressions
          .Literal(folded.eval(), dt).sql
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(SnapshotTable.CurrentDefaultKey, sql)
          .putString(SnapshotTable.ExistsDefaultKey, frozen)
          .build()
    }
    evolveTo(StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(name, dt, nullable = true,
        md)))
  }

  /** `ALTER TABLE ... ALTER COLUMN ... SET/DROP DEFAULT` analog,
    * METADATA-ONLY. Only `CURRENT_DEFAULT` moves — what FUTURE SQL
    * INSERTs resolve. The initial default (`EXISTS_DEFAULT`, what
    * rows predating the column read) stays frozen at its add-time
    * value, and a column that never had one does NOT gain one: its
    * pre-existing rows were committed under null semantics and a
    * later SET DEFAULT must not rewrite their history (Delta/Iceberg
    * semantics). DROP DEFAULT (`None`) removes only the
    * current-default, for the same reason. */
  def setColumnDefault(name: String, defaultSql: Option[String]): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val schema = readManifest(v).schema.getOrElse(
      throw new IllegalStateException(
        s"cannot alter column defaults at $path: no logged schema"))
    require(schema.fieldNames.contains(name), s"no column '$name' at $path")
    val f = schema(name)
    val md = defaultSql match {
      case Some(sql) =>
        // validate NOW through Spark's own analysis (parse, coerce to
        // the column type, constant-fold) — same stance as addColumn
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.analyze(
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(SnapshotTable.CurrentDefaultKey, sql).build()),
          "ALTER TABLE ALTER COLUMN")
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(SnapshotTable.CurrentDefaultKey, sql).build()
      case None =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(SnapshotTable.CurrentDefaultKey).build()
    }
    evolveTo(StructType(schema.fields.map(x =>
      if (x.name == name) x.copy(metadata = md) else x)))
  }

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` analog, METADATA-ONLY:
    * widen one column to a safely-wider type (see [[evolveTo]] for
    * the allowed lattice and why every stat family survives). Time
    * travel reads each version under ITS OWN logged type — a pinned
    * pre-widening read still yields the narrow type. */
  def widenColumn(name: String, to: DataType): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val schema = readManifest(v).schema.getOrElse(
      throw new IllegalStateException(
        s"cannot widen columns at $path: no logged schema"))
    require(schema.fieldNames.contains(name),
      s"no column '$name' at $path")
    evolveTo(StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f)))
  }

  /** Iceberg-style PARTITION-SPEC EVOLUTION, metadata-only: commits
    * `newCols` as the table's write layout — zero data I/O. Files
    * already committed stay readable (and merge-scoped) under the
    * spec THEIR OWN paths encode; commits from here on write Hive
    * dirs for the new spec. Lazy by design (Iceberg's model): data
    * migrates only as rewrites touch it, or eagerly via
    * [[migrateSpec]]. The DSv2 `format("graft")` stack plans a single
    * spec and REFUSES a mixed snapshot ([[mixedSpecAt]]) with the
    * migration remedy; SnapshotTable reads, upserts, DML, CDC and
    * compaction are all vintage-aware. A handle constructed with an
    * explicit `partitionCol` pins that spec (the existing ctor-wins
    * contract) — evolution-aware callers construct without one. */
  def repartitionTo(newCols: Seq[String]): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"cannot evolve the partition spec at $path: no logged schema " +
        "(vintage-aware reads must type every file)"))
    // an EMPTY target spec (DE-partitioning, Iceberg's evolve-to-
    // unpartitioned) is legal: the commit logs the explicit flat
    // marker ([[SnapshotTable.FlatSpecMarker]]), which disambiguates
    // it from legacy pre-layout manifests (no line logged while Hive
    // dirs exist on disk) — readers see "intentionally flat" and plan
    // old-layout files under their own path-encoded vintage as usual
    newCols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column '$c' at $path"))
    require(newCols.distinct == newCols,
      s"duplicate partition columns: ${newCols.mkString(",")}")
    require(newCols != tablePartitionCols,
      s"table at $path already partitions by " +
        s"'${if (newCols.isEmpty) "<flat>" else newCols.mkString(",")}'")
    // commit FIRST, flip the handle's resolved spec only once the
    // commit has landed: concurrent reads/upserts on this handle must
    // never plan under a spec that is not yet (or never) committed
    commitManifest(v + 1, m.entries, schema,
      partitionSpecOverride = Some(newCols))
    cachedPartitionSpec = newCols
    cachedExplicitFlat = newCols.isEmpty
  }

  /** Rewrite every file still laid out under an OLDER partition spec
    * into the current one — the eager completion of [[repartitionTo]]'s
    * lazy contract. One commit, O(legacy files) I/O, a no-op on a
    * uniform table; afterwards the DSv2/SQL scan (which plans one
    * spec) serves the table again. */
  def migrateSpec(): Unit = {
    val v = currentVersion.getOrElse(return)
    val m = readManifest(v)
    val pcs = tablePartitionCols
    val (legacy, uniform) = m.entries.partition(e =>
      SnapshotTable.specOf(e.path) != pcs)
    if (legacy.isEmpty) return
    val schema = m.schema.orElse(declaredSchema)
      .getOrElse(readFiles(m.entries).schema)
    val rewritten = writeDataFiles(readFiles(legacy, m.schema))
    commitMerge(v, m, uniform, rewritten, schema,
      e => SnapshotTable.specOf(e.path) != pcs)
  }

  /** Does this snapshot mix partition-spec vintages (a
    * [[repartitionTo]] committed and migration incomplete)? The DSv2
    * scan stacks plan a single spec and must refuse such snapshots;
    * every SnapshotTable read/DML path is vintage-aware. */
  private[graft] def mixedSpecAt(version: Option[Long] = None): Boolean =
    version.orElse(currentVersion).exists(v =>
      readManifest(v).entries.exists(e =>
        SnapshotTable.specOf(e.path) != tablePartitionCols))

  /** Shared validation for [[renameColumn]]/[[dropColumn]]: the ops
    * are only sound on an id-mapped table (name-resolved files would
    * silently detach), never on a partition column (directories encode
    * its name), the logged merge key, a layout column (stats/cluster/
    * bloom collection would silently stop), or a column a CHECK
    * constraint references (its SQL would stop analyzing). */
  private def validateColumnChange(schema: StructType, m: Manifest,
                                   name: String, op: String): Unit = {
    require(SnapshotTable.idMapped(schema),
      s"cannot $op '$name' at $path: the table is not column-id " +
        s"mapped — create it with TBLPROPERTIES(" +
        s"'${SnapshotTable.MappingProp}'='id') (files are otherwise " +
        "resolved by NAME and committed bytes would silently detach)")
    require(schema.fieldNames.contains(name),
      s"no column '$name' at $path")
    require(!tablePartitionCols.contains(name),
      s"cannot $op partition column '$name' at $path: partition " +
        "directories encode its name")
    // the same hazard for a column an OLDER spec's live files still
    // encode in their directory names (partition-spec evolution):
    // renaming it would detach those files' vintage resolution
    require(!m.entries.iterator
        .flatMap(e => SnapshotTable.specOf(e.path)).contains(name),
      s"cannot $op '$name' at $path: live files written under an older " +
        "partition spec encode it in their directory names — run " +
        "migrateSpec() first")
    require(!effectiveProps.get("primaryKey").contains(name),
      s"cannot $op '$name' at $path: it is the table's logged merge key")
    val lay = effectiveLayout
    val inLayout = (lay.statsCols ++ lay.clusterBy ++ lay.bloomCols)
      .contains(name)
    require(!inLayout,
      s"cannot $op '$name' at $path: the table layout (stats/cluster/" +
        "bloom) references it — re-declare the layout first")
    val word = ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
    val refs = m.checks.filter(c => word.findFirstIn(c._2).isDefined)
    require(refs.isEmpty,
      s"cannot $op '$name' at $path: CHECK constraint(s) " +
        s"${refs.map(_._1).mkString(", ")} reference it — drop them first")
  }

  /** DRY-RUN the full column-op sequence of a multi-change ALTER
    * against the EVOLVING schema (each op validated as if every prior
    * op had committed), plus the trailing ADD COLUMNS names against
    * the final shape — without committing anything. The catalog calls
    * this before executing the first op, so an ALTER whose later
    * change is invalid fails whole: the earlier changes are never
    * committed (validation-level per-statement atomicity; each op
    * still commits individually afterwards, mirroring [[renameColumn]]
    * /[[dropColumn]]/[[widenColumn]] semantics). */
  private[graft] def validateAlterSequence(
      ops: Seq[SnapshotTable.ColumnAlter],
      adds: Seq[org.apache.spark.sql.types.StructField] = Nil,
      defaults: Seq[(String, Option[String])] = Nil): Unit = {
    val v = currentVersion.getOrElse(return) // the ops themselves throw
    val m = readManifest(v)
    var schema = m.schema.getOrElse(return)
    ops.foreach {
      case SnapshotTable.RenameCol(o, n) =>
        validateColumnChange(schema, m, o, "rename")
        require(!schema.fieldNames.contains(n),
          s"column '$n' already exists at $path")
        schema = StructType(schema.fields.map(f =>
          if (f.name == o) f.copy(name = n) else f))
      case SnapshotTable.DropCol(n) =>
        validateColumnChange(schema, m, n, "drop")
        require(schema.length > 1, s"cannot drop the only column of $path")
        schema = StructType(schema.fields.filterNot(_.name == n))
      case SnapshotTable.WidenCol(n, to) =>
        require(schema.fieldNames.contains(n), s"no column '$n' at $path")
        val from = schema(n).dataType
        require(from == to || SnapshotTable.isSafeWidening(from, to),
          s"evolveTo changes type of '$n': $from -> $to — only safe " +
            "widenings (integral up the byte<short<int<long lattice, " +
            "float->double, int->double, integral->decimal, decimal " +
            "precision/scale growth, date->timestamp_ntz) are " +
            "metadata-only")
        require(from == to || !tablePartitionCols.contains(n) ||
            (SnapshotTable.integralType(from) &&
              SnapshotTable.integralType(to)),
          s"cannot widen partition column '$n' at $path to $to: Hive " +
            "directory renderings only coincide across integral widths")
        schema = StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(dataType = to) else f))
    }
    adds.foreach { f =>
      require(!schema.fieldNames.contains(f.name),
        s"column '${f.name}' already exists at $path")
      require(f.nullable, "added columns must be nullable")
      schema = StructType(schema.fields :+ f)
    }
    // SET/DROP DEFAULT, dry-run against the EVOLVED schema: a mixed
    // ALTER whose default is broken must leave the earlier changes
    // uncommitted (the same per-statement-atomicity stance as the
    // column ops above)
    defaults.foreach { case (n, d) =>
      require(schema.fieldNames.contains(n), s"no column '$n' at $path")
      d.foreach { sql =>
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.analyze(
          schema(n).copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(SnapshotTable.CurrentDefaultKey, sql).build()),
          "ALTER TABLE ALTER COLUMN")
      }
    }
  }

  /** A live-entry set with `name`'s per-file stats and bloom stripped:
    * a LATER column renamed into this name must never consult the old
    * column's values (pruning must never be wrong). O(live entries)
    * re-serialized in the commit — rename/drop are rare DDL. */
  private def stripColumnStats(entries: Seq[FileEntry],
                               name: String): Seq[FileEntry] =
    entries.map(e =>
      e.copy(stats = e.stats - name - FileEntry.bloomKey(name) -
        FileEntry.nullsKey(name)))

  /** Delta `ALTER TABLE RENAME COLUMN` analog, METADATA-ONLY: the
    * field keeps its parquet id and changes its logical name — zero
    * data I/O, and every committed file (old or new name vintage)
    * resolves the column by ID on read. Requires column-id mapping
    * (declared at create); see [[validateColumnChange]] for what may
    * not be renamed. Old versions time-travel under their own names. */
  def renameColumn(oldName: String, newName: String): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"cannot rename columns at $path: no logged schema"))
    validateColumnChange(schema, m, oldName, "rename")
    require(!schema.fieldNames.contains(newName),
      s"column '$newName' already exists at $path")
    val schema2 = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitManifest(v + 1, stripColumnStats(m.entries, oldName), schema2)
  }

  /** Delta/Iceberg `ALTER TABLE DROP COLUMN` analog, METADATA-ONLY:
    * the field leaves the logged schema, its bytes stay in the
    * committed files (invisible — reads project by the schema) until
    * natural rewrite cycles age them out. A later re-ADD of the same
    * name gets a FRESH field id ([[evolveTo]]), so the dropped
    * column's bytes can never resurface as the new column's values —
    * the failure mode name-resolved parquet cannot avoid, and the
    * reason this requires column-id mapping. */
  def dropColumn(name: String): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"cannot drop columns at $path: no logged schema"))
    validateColumnChange(schema, m, name, "drop")
    require(schema.length > 1, s"cannot drop the only column of $path")
    val schema2 = StructType(schema.fields.filterNot(_.name == name))
    commitManifest(v + 1, stripColumnStats(m.entries, name), schema2)
  }

  /** The CHECK constraints in force: those LOGGED in the table's
    * manifest — binding on every writer, whatever handle or source API
    * the write comes through — unioned with constructor-supplied ones
    * (same name: the constructor definition wins, which is also how a
    * constraint gets added: construct a handle with it and commit). */
  private[graft] def effectiveChecks: Seq[(String, Column)] = {
    val ctor = checkConstraints.map(_._1).toSet
    loggedChecks.filterNot(c => ctor(c._1) || droppedChecks(c._1))
      .map { case (n, sql) => n -> expr(sql) } ++ checkConstraints
  }

  /** Project CHECK enforcement INTO the write plan itself
    * (Delta-invariant style): rows are validated by the very job that
    * writes them, so a non-deterministic source (rand(), a table that
    * changed between jobs) cannot slip rows past a separate pre-pass —
    * check and write see identical rows, computed once. A violation
    * fails the job before the manifest commit: nothing becomes
    * visible. FALSE violates, NULL passes (SQL CHECK); rows where
    * `onlyWhen` is not TRUE are exempt (the UPDATE path checks only
    * post-images of modified rows). */
  private def guardChecks(df: DataFrame,
                          onlyWhen: Column = lit(true)): DataFrame =
    effectiveChecks.foldLeft(df) { case (d, (name, pred)) =>
      d.filter(assert_true(
        !coalesce(onlyWhen, lit(false)) ||
          coalesce(pred, lit(true)) =!= lit(false),
        lit(s"CHECK constraint '$name' violated by an incoming row " +
          s"at $path")).isNull)
    }

  /** Whether this table opted into column-id mapping at create
    * ([[SnapshotTable.MappingProp]] = 'id'). */
  private def mappingRequested: Boolean =
    effectiveProps.get(SnapshotTable.MappingProp).contains("id")

  /** Assign fresh sequential field ids to every field of a CREATE
    * schema and record the high-water mark. */
  private def assignCreateIds(schema: StructType): StructType = {
    pendingProps(SnapshotTable.MaxIdProp) = schema.length.toString
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = SnapshotTable.mdWithId(f.metadata, i + 1L))
    })
  }

  /** Re-stamp a batch with THIS table's field ids before it is
    * written. No-op unless the table is id-mapped. Resolution is by
    * NAME against the logged schema, always: a field named there
    * inherits the logged id (projections like UPDATE's CASE-WHEN drop
    * attribute metadata, and an un-stamped column in ONE file would
    * read as null under id matching), and a genuinely NEW field
    * (evolveSchema upserts) gets a fresh id above the logged
    * high-water mark, bumped in the same commit. An id the SOURCE
    * batch carries is never trusted — it names a position in some
    * OTHER table's mapping (e.g. an upsert sourced from a different
    * id-mapped table), and committing it would re-key this table's
    * carried-over files to the foreign mapping: silently swapped
    * column bytes under id matching. create() strips foreign ids for
    * the same reason. */
  private def stampFieldIds(df: DataFrame): DataFrame = {
    val logged = currentVersion.flatMap(v => readManifest(v).schema)
    if (!logged.exists(SnapshotTable.idMapped)) return df
    val byName = logged.get.fields.iterator
      .map(f => f.name -> f.metadata).toMap
    var maxId = effectiveProps.get(SnapshotTable.MaxIdProp)
      .flatMap(_.toLongOption)
      .getOrElse(logged.get.fields.flatMap(SnapshotTable.fieldIdOf).max)
    var assigned = false
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      byName.get(f.name)
        .filter(_.contains(SnapshotTable.FieldIdKey)) match {
        case Some(md) => col(f.name).as(f.name, md)
        case None =>
          maxId += 1; assigned = true
          col(f.name).as(f.name,
            SnapshotTable.mdWithId(
              SnapshotTable.mdWithoutId(f.metadata), maxId))
      }
    }
    if (assigned) pendingProps(SnapshotTable.MaxIdProp) = maxId.toString
    df.select(cols: _*)
  }

  /** Initial commit (v1). */
  def create(df: DataFrame): Unit = {
    require(branch.isEmpty,
      s"a branch is forked from existing state (createBranch), never " +
        s"created: branch '${branch.getOrElse("")}' of $path")
    require(!exists, s"table already exists at $path")
    val src =
      if (!mappingRequested) df
      else {
        // CREATE defines the mapping: stamp ids 1..n (any ids the
        // source carried belong to ITS table, not this one)
        val s2 = assignCreateIds(StructType(
          df.schema.fields.map(f =>
            f.copy(metadata = SnapshotTable.mdWithoutId(f.metadata)))))
        df.select(s2.fields.toIndexedSeq.map(f =>
          col(f.name).as(f.name, f.metadata)): _*)
      }
    commitManifest(1L, writeDataFiles(guardChecks(src)), src.schema)
  }

  /** Initial commit of an EMPTY table (SQL `CREATE TABLE` without AS
    * SELECT): v1 logs the declared schema, partitioning, constraints
    * and properties but lists no files — reads type an empty frame off
    * the manifest alone, and the first data commit is a plain
    * [[append]]/[[upsert]] like any other. */
  def createEmpty(schema: StructType): Unit = {
    require(branch.isEmpty,
      s"a branch is forked from existing state (createBranch), never " +
        s"created: branch '${branch.getOrElse("")}' of $path")
    require(!exists, s"table already exists at $path")
    val s2 = if (mappingRequested) assignCreateIds(schema) else schema
    commitManifest(1L, Nil, s2)
  }

  /** BLIND append as ONE atomic commit: the new batch's files are added
    * to the manifest, every existing file carries over by reference —
    * no merge anti-join, no partition rewrite, O(batch) I/O always.
    * This is standard `INSERT INTO` / Delta `append` semantics (rows
    * with duplicate keys are kept); tables that declare a `primaryKey`
    * and want merge semantics use [[upsert]]. Incoming rows are
    * conformed to the table's logged column order and types, and CHECK
    * constraints guard the write job itself. */
  def append(df: DataFrame): Unit = {
    if (!exists) { create(df); return }
    val v = currentVersion.get
    val m = readManifest(v)
    val schema = declaredSchema.orElse(m.schema)
      .getOrElse(readFiles(m.entries).schema)
    val fresh = writeDataFiles(guardChecks(conformToSchema(df, schema)))
    // a blind append has NO read-set: losing the version race to a
    // concurrent writer only means re-basing the same new files onto
    // the new head — safe to retry, like Delta's append-vs-anything
    // conflict resolution. (upsert/delete/update conflicts still fail:
    // their merge reads would be stale.)
    var attempt = 0
    var base = v
    var commitSchema = schema
    while (true) {
      try {
        commitManifest(base + 1,
          readManifest(base).entries ++ fresh, commitSchema)
        return
      } catch {
        case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("commit conflict")
            && attempt < 5 =>
          attempt += 1
          base = currentVersion.getOrElse(base)
          // re-derive the schema from the NEW head: the winning commit
          // may have evolved the table (e.g. added a column), and
          // re-committing the schema captured before the conflict
          // would silently revert that evolution. Our already-written
          // files lack any newly-added column, which the evolved-read
          // path already tolerates (same contract as evolveSchema).
          commitSchema = declaredSchema
            .orElse(readManifest(base).schema).getOrElse(commitSchema)
      }
    }
  }

  /** Conform an incoming batch to the table's logged column order and
    * types: by-name when the names all match (any order), positional
    * otherwise (SQL INSERT by position) — either way cast to the
    * logged types so the table schema never drifts. */
  private def conformToSchema(df: DataFrame, schema: StructType): DataFrame = {
    require(df.columns.length == schema.length,
      s"write of ${df.columns.length} columns into ${schema.length}-column " +
        s"table at $path")
    val byName = df.columns.toSet == schema.fieldNames.toSet
    // the alias re-attaches the TABLE field's metadata: the cast drops
    // attribute metadata, and on an id-mapped table a file written
    // without the parquet field id would read as null under id matching
    df.select(schema.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) =>
        (if (byName) col(f.name) else col(df.columns(i)))
          .cast(f.dataType).as(f.name, f.metadata)
    }: _*)
  }

  /** MERGE-by-PK upsert as ONE atomic commit. Untouched partitions
    * (cluster ranges, on clustered layouts) carry over BY REFERENCE
    * (their existing files are listed unchanged in the new manifest —
    * zero data I/O). On a SCOPED table — partitioned, or clustered with
    * statted cluster columns — the merge is stage-first
    * ([[mergeStaged]]): the batch is written once, and the merge scope
    * and the plan rule's batch count come from the staged files'
    * footers and partition dirs, so no job evaluates the batch just to
    * scope it. The touched files then take one of two physical plans,
    * picked per commit (see [[mergeOnRead]]):
    *  - COPY-ON-WRITE: touched files are merged with the staged batch
    *    (read back) and rewritten as new files — when the batch is
    *    about as large as what it touches;
    *  - MERGE-ON-READ: the staged batch is promoted as it is and the
    *    rows it replaces are hidden by deletion vectors on the touched
    *    files (the [[deleteMoR]] representation) — when the touched
    *    files hold more live rows than the batch, so a small batch
    *    never pays a rewrite of the slice it lands in.
    * An unscoped table has nothing to prune by: every live file is
    * touched and rewritten with the batch, copy-on-write. Both plans
    * commit the same rows; readers see the old snapshot until the
    * manifest rename, then the new one, never a mix.
    *
    * @param evolveSchema allow the source to carry NEW columns: kept
    *   rows read them as null (Delta's mergeSchema). Incompatible
    *   with a declaredSchema (a pinned schema would silently project
    *   the new column away on every read). */
  def upsert(source: DataFrame, evolveSchema: Boolean = false): Unit =
    withSizeDerivedSplits(mergeBatch(source, evolveSchema, deleteFlag = None))

  /** MERGE with per-row deletes, ONE atomic commit: rows of `source`
    * whose boolean `deleteFlag` column is TRUE remove their PK match
    * from the table (and are not inserted); every other row upserts
    * exactly as [[upsert]]. The flag column never lands in the table.
    * This is `MERGE … WHEN MATCHED [AND cond] THEN DELETE` as an API —
    * the shape an incremental view refresh needs (upsert changed
    * groups + drop emptied groups, atomically), and deletes
    * participate in the merge SCOPE, so touched-partition / cluster
    * pruning and the optimistic re-base treat them like any other
    * keyed write. It is not stage-first: its deletes are never
    * written, so on a scoped table ONE aggregate over every source row
    * (inserts and deletes) gives the batch count and the scope before
    * the write, and deletes count toward the batch size of
    * [[upsert]]'s plan rule (a merge-on-read delete hides its match
    * with a deletion vector). A delete for an absent PK is a no-op. */
  def upsertDelete(source: DataFrame, deleteFlag: String): Unit = {
    require(source.columns.contains(deleteFlag),
      s"upsertDelete: source has no column '$deleteFlag'")
    withSizeDerivedSplits(
      mergeBatch(source, evolveSchema = false, deleteFlag = Some(deleteFlag)))
  }

  private def mergeBatch(source: DataFrame, evolveSchema: Boolean,
                         deleteFlag: Option[String]): Unit = {
    require(!evolveSchema || declaredSchema.isEmpty,
      "evolveSchema requires schema inference: a declaredSchema would " +
        "silently drop the evolved columns on read")
    val inserts0 = deleteFlag.fold(source)(f =>
      source.filter(!coalesce(col(f).cast("boolean"), lit(false))).drop(f))
    if (!exists) {
      // creating from a flagged source: deletes target nothing yet
      create(inserts0)
      return
    }
    val v = currentVersion.get
    val m = readManifest(v)
    // conform the batch to the table's logged column order/types (same
    // contract as append) unless the caller opted into evolution: an
    // unconformed source would otherwise commit ITS schema over the
    // table's — dropping existing columns outright when every touched
    // partition is new, or union-coercing the logged types out from
    // under carried-over files
    val tableSchema = declaredSchema.orElse(m.schema)
    def conformed(df: DataFrame): DataFrame =
      tableSchema.fold(df)(conformToSchema(df, _))
    // checks ride the source's lineage into the write job itself —
    // kept rows (already committed) are never re-checked, and DELETE
    // rows are never checked at all (they remove, they don't land)
    val src0 = guardChecks(inserts0)
    val src = if (evolveSchema) src0 else conformed(src0)
    // the KNOCKOUT set: every source row (inserts AND deletes) defines
    // the merge scope and removes its PK match from touched files
    val knock = deleteFlag.fold(src)(f => conformed(source.drop(f)))
    // a batch that OMITS a statted cluster column is REFUSED, not
    // accommodated: unionByName(allowMissingColumns) would null-fill
    // the cluster value on every replaced row, silently violating the
    // PK→cluster-value stability contract pruning rests on — a later
    // pruned merge could then keep the hidden null-keyed row alongside
    // its re-sent PK (duplicate keys). Case-insensitive membership,
    // matching Spark's resolution.
    val missing = scopeClusterColumns.filterNot(c =>
      knock.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"upsert batch omits statted cluster column(s) " +
        s"${missing.mkString(", ")} of $path — a null-filled " +
        "cluster value would break the PK→cluster stability that " +
        "stats-scoped merging relies on; include the column " +
        "explicitly (nulls in the batch disable pruning safely)")
    if (evolveSchema && !fs.exists(evolvedMarker))
      fs.create(evolvedMarker, true).close()
    val aligned = alignUntouched(src, m.schema, evolveSchema)
    if (!mergeScoped)
      mergeCopyOnWrite(v, m, m.entries, Nil, aligned, knock, evolveSchema,
        dirHint = None, scope = _ => true)
    else if (deleteFlag.isEmpty) {
      val written = stampFieldIds(aligned)
      mergeStaged(v, m, stageWrite(written), None,
        withLoggedMetadata(written.schema, m.schema), evolve = evolveSchema,
        knockCols = Some(knock.columns.toSeq))
    } else {
      // upsertDelete: its deletes are never written, so staging the
      // inserts first would still need an aggregate over the deletes,
      // and the copy-on-write side (a view refresh's usual one) would
      // write the inserts twice. ONE aggregate over the whole knock-out
      // set scopes the merge before anything is written.
      val part = aggregatePart(knock)
      val (touched, kept, scope, dirHint) = mergeScope(m.entries, Seq(part),
        knock, knock.columns.map(_.toLowerCase).toSet)
      if (mergeOnRead(touched, part.rows)) {
        // write the inserts alone and hide what every row replaces
        val written = stampFieldIds(aligned)
        commitMergeOnRead(v, m, touched, kept,
          writeDataFiles(written, dirHint = dirHint), knock,
          withLoggedMetadata(written.schema, m.schema), scope)
      } else mergeCopyOnWrite(v, m, touched, kept, aligned, knock,
        evolve = false, dirHint, scope)
    }
  }

  /** The statted cluster columns a keyed merge on an unpartitioned
    * table is scoped by (min/max stats of the batch against each
    * file's); Nil on partitioned tables, which scope by directory. */
  private def scopeClusterColumns: Seq[String] =
    if (tablePartitionCols.nonEmpty) Nil
    else clusterColumns.filter(statsColumns.contains)

  /** Whether a keyed merge can be scoped below the whole table: by
    * partition dirs, or by cluster-column stats. */
  private def mergeScoped: Boolean =
    tablePartitionCols.nonEmpty || scopeClusterColumns.nonEmpty

  /** What one part of a merge batch contributes to its scope: its row
    * count, the partition dirs it renders into, and per scope cluster
    * column its tagged [min, max] (None: no usable bound) and whether
    * it may hold a null. */
  private final case class BatchPart(rows: Long, dirs: Set[String],
                                     bounds: Map[String, Option[(String, String)]],
                                     mayHoldNull: Map[String, Boolean])

  /** A staged file's part, from its footer entry alone: the dir it was
    * written under and its recorded stats and null counts. */
  private def stagedPart(e: FileEntry): BatchPart = {
    val cs = scopeClusterColumns
    BatchPart(e.rows,
      if (tablePartitionCols.isEmpty) Set.empty else Set(partOf(e.path)),
      // a floating-point footer range leaves NaN out (parquet drops it
      // from min/max), so it never bounds a batch
      cs.map(c => c -> e.stats.get(c).filterNot(_._1.startsWith("D:"))).toMap,
      cs.map(c => c -> e.nullCount(c).forall(_ > 0L)).toMap)
  }

  /** Render `frame`'s partition values under `spec` exactly the way the
    * writer names dirs: CAST to string (matches Spark's path rendering
    * for timestamps etc., unlike java toString), then
    * getPartitionValueString (escapes AND maps null/empty to
    * __HIVE_DEFAULT_PARTITION__); multi-level keys join their
    * per-level values with "/" ([[SnapshotTable.partOf]]'s form). A
    * mismatch here makes a touched partition look untouched: its old
    * files carry over alongside the rewrite, duplicating primary keys.
    * ONE-reduce-task global aggregate, not distinct(): partial
    * collect_sets merge map-side, so a single final task replaces
    * numShufflePartitions mostly-empty ones. `extra` aggregates ride
    * the same job (columns 1.. of the returned row). */
  private def renderDirs(frame: DataFrame, spec: Seq[String], extra: Column*)
      : (Set[String], org.apache.spark.sql.Row) = {
    val r = frame.agg(collect_set(
      struct(spec.map(c => col(c).cast("string")): _*)), extra: _*).head()
    val dirs = r.getSeq[org.apache.spark.sql.Row](0)
      .map(d => spec.indices.map(i =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionValueString(
            if (d.isNullAt(i)) null else d.getString(i)))
        .mkString("/"))
      .toSet
    (dirs, r)
  }

  /** The part of a batch a merge does not stage (upsertDelete's whole
    * knock-out set), from ONE aggregate over its rows: count plus the
    * dirs they render into, or count plus min/max/null count of each
    * scope cluster column. A bound the stats encoding cannot express
    * (binary…) is no bound — never a merge failure. */
  private def aggregatePart(rows: DataFrame): BatchPart = {
    val pcs = tablePartitionCols
    if (pcs.nonEmpty) {
      val (dirs, r) = renderDirs(rows, pcs, count(lit(1)))
      BatchPart(r.getLong(1), dirs, Map.empty, Map.empty)
    } else {
      val cs = scopeClusterColumns
      val r = rows.agg(count(lit(1)),
        cs.flatMap(c => Seq(min(col(c)), max(col(c)),
          sum(when(col(c).isNull, 1L).otherwise(0L)))): _*).head()
      def bound(i: Int): Option[(String, String)] =
        if (r.isNullAt(1 + i * 3) || r.isNullAt(2 + i * 3)) None
        else try Some((FileEntry.enc(r.get(1 + i * 3)),
                       FileEntry.enc(r.get(2 + i * 3))))
        catch { case _: IllegalArgumentException => None }
      BatchPart(r.getLong(0), Set.empty,
        cs.indices.map(i => cs(i) -> bound(i)).toMap,
        cs.indices.map(i => cs(i) ->
          (!r.isNullAt(3 + i * 3) && r.getLong(3 + i * 3) > 0L)).toMap)
    }
  }

  /** The merge SCOPE of a batch summarized by `parts`: (touched files,
    * files kept by reference, the scope predicate — does a file, in
    * particular one a concurrent commit added, overlap the slice this
    * merge reads and replaces? it decides whether a lost commit race
    * may re-base, see [[commitMerge]] — and the dir count a rewrite
    * renders into when known). The PK→partition (PK→cluster-value)
    * mapping must be stable across batches.
    *  - PARTITIONED: the dirs the parts render into. LEGACY-spec
    *    vintages (partition-spec evolution) are scoped by rendering
    *    `knock` under each one's OWN spec — a replaced PK may live in an
    *    old-layout file, and matching it against the new spec's
    *    rendering would silently keep it (duplicate keys). A vintage
    *    whose columns the knock-out rows do not carry (`knockCols`: an
    *    evolveSchema source omitting them, null-filled in the staged
    *    batch) and the unpartitioned vintage are all-touched.
    *  - CLUSTERED (Iceberg hidden partitioning / Delta liquid
    *    clustering: no Hive dirs, pruning by per-file min/max): only
    *    files whose cluster-column range can overlap the batch's
    *    [min, max] are touched. Any NULL cluster value in the batch
    *    disables pruning for that commit (parquet min/max ignores
    *    nulls, so a kept file could silently hold the null-keyed row
    *    the batch replaces), as does a column with no usable bound.
    * An empty batch touches nothing. */
  private def mergeScope(live: Seq[FileEntry], parts: Seq[BatchPart],
                         knock: DataFrame, knockCols: Set[String])
      : (Seq[FileEntry], Seq[FileEntry], FileEntry => Boolean, Option[Int]) = {
    val ps = parts.filter(_.rows > 0L)
    val pcs = tablePartitionCols
    val dirs = ps.flatMap(_.dirs).toSet
    val scope: FileEntry => Boolean =
      if (ps.isEmpty) _ => false
      else if (pcs.nonEmpty) {
        val legacySets: Map[Seq[String], Option[Set[String]]] =
          live.iterator.map(e => SnapshotTable.specOf(e.path))
            .filter(_ != pcs).toSeq.distinct.map { spec =>
              spec -> (if (spec.nonEmpty &&
                           spec.forall(c => knockCols(c.toLowerCase)))
                         Some(renderDirs(knock, spec)._1)
                       else None)
            }.toMap
        e => {
          val sp = SnapshotTable.specOf(e.path)
          if (sp == pcs) dirs(partOf(e.path))
          else legacySets.get(sp).flatten match {
            case Some(set) => set(partOf(e.path))
            case None => true // unknown/unrenderable vintage: conflict
          }
        }
      } else {
        val cs = scopeClusterColumns
        val ord = FileEntry.valueOrdering
        // one [min, max] per column over every part, when each part
        // bounds it within one tag family
        val bounds = cs.flatMap { c =>
          val bs = ps.map(_.bounds.getOrElse(c, None))
          val fams = bs.flatten.flatMap(b => Seq(b._1.take(2), b._2.take(2)))
          if (bs.exists(_.isEmpty) || fams.distinct.size != 1) None
          else Some((c, bs.flatten.map(_._1).min(ord),
                     bs.flatten.map(_._2).max(ord)))
        }
        if (bounds.isEmpty ||
            ps.exists(p => cs.exists(p.mayHoldNull.getOrElse(_, true))))
          _ => true
        else e => candidatesEncoded(Seq(e), bounds).nonEmpty
      }
    val (touched, kept) = live.partition(scope)
    // merged rows live only in the batch's dirs — the batch renders
    // into them by construction and current-spec kept rows came from
    // files inside them. A LEGACY-spec touched file breaks that: its
    // kept rows carry arbitrary current-spec values, so no hint there.
    val dirHint =
      if (pcs.nonEmpty && touched.forall(e => SnapshotTable.specOf(e.path) == pcs))
        Some(dirs.size)
      else None
    (touched, kept, scope, dirHint)
  }

  /** THE keyed merge of a scoped table, STAGE-FIRST: the batch sits
    * fully written in the stage `commitId` (`only`: the task-reported
    * files of an external stager), and the merge decides everything
    * from the staged footers — the batch's row count, its cluster
    * columns' min/max and null counts — and the staged partition dirs
    * ([[mergeScope]]), so the batch is evaluated exactly once, by the
    * write that staged it. Then, by [[mergeOnRead]]:
    *  - MERGE-ON-READ: the staged files are promoted as the batch's
    *    new files and the rows they replace are hidden with deletion
    *    vectors ([[commitMergeOnRead]]);
    *  - COPY-ON-WRITE: the staged files are read back as the source of
    *    the touched files' rewrite ([[mergeCopyOnWrite]]), laid out as
    *    any write is; an all-new slice of the engine's own stage
    *    promotes it as it is.
    * The stage is deleted on every exit. `external`: staged by DSv2
    * task writers (the merge sink), whose files carry no field ids
    * (re-written on an id-mapped head, [[rewriteStagedWithIds]]) and
    * are re-laid out by the rewrite.
    * `knockCols`: the columns the caller's knock-out rows carry, when
    * the staged batch null-filled some (default: the batch's). */
  private def mergeStaged(v: Long, m: Manifest, commitId: String,
                          only: Option[Set[String]], schema: StructType,
                          external: Boolean = false,
                          evolve: Boolean = false,
                          knockCols: Option[Seq[String]] = None): Unit =
    try {
      val staged = probeStage(commitId, only)
      // planned over the stage: valid until it is promoted or deleted
      val batch = readStaged(commitId, staged.map(_._2), schema)
      val parts = staged.map(s => stagedPart(s._2))
      val (touched, kept, scope, dirHint) = mergeScope(m.entries, parts, batch,
        knockCols.getOrElse(batch.columns.toSeq).map(_.toLowerCase).toSet)
      def promoted: Seq[FileEntry] =
        if (external && headIdMapped) rewriteStagedWithIds(commitId, schema, only)
        else promoteProbed(commitId, staged,
          Some(StructType(schema.fields.map(_.copy(nullable = true)))))
      if (mergeOnRead(touched, parts.map(_.rows).sum)) {
        val fresh = promoted
        // the batch knocks out exactly the keys it just promoted: the
        // probe reads them back from the new files
        commitMergeOnRead(v, m, touched, kept, fresh,
          readFilesRaw(fresh, Some(schema)), schema, scope)
      } else if (touched.isEmpty && (!external || staged.isEmpty))
        commitMerge(v, m, kept, promoted, schema, scope)
      else mergeCopyOnWrite(v, m, touched, kept, batch, batch, evolve,
        dirHint, scope)
    } finally fs.delete(new Path(stageDirFor(commitId)), true)

  /** The staged batch as a frame, planned from its probed entries alone
    * (no listing) and read by NAME ([[withoutIds]]) under `schema`. */
  private def readStaged(commitId: String, staged: Seq[FileEntry],
                         schema: StructType): DataFrame =
    if (staged.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withoutIds(schema))
    else indexedRead(stageDirFor(commitId), staged, withoutIds(schema))

  /** The copy-on-write side of a keyed merge: the `touched` files' rows
    * whose key `knock` does not carry, plus `batch`, rewritten as new
    * files; `kept` carry over by reference. */
  private def mergeCopyOnWrite(v: Long, m: Manifest, touched: Seq[FileEntry],
                               kept: Seq[FileEntry], batch: DataFrame,
                               knock: DataFrame, evolve: Boolean,
                               dirHint: Option[Int],
                               scope: FileEntry => Boolean): Unit = {
    val merged = stampFieldIds(
      if (touched.isEmpty) batch // all-new slice
      else {
        val cur = readFiles(touched, m.schema)
        val rest = byKnockedKey(cur, knock, "left_anti")
        if (evolve) rest.unionByName(batch, allowMissingColumns = true)
        else rest.unionByName(
          batch.select(cur.columns.toIndexedSeq.map(col): _*))
      })
    commitMerge(v, m, kept, writeDataFiles(merged, dirHint = dirHint),
      withLoggedMetadata(merged.schema, m.schema), scope)
  }

  /** `rows` whose primary key `knock` carries (`left_semi`) or does not
    * (`left_anti`), matched NULL-SAFE: a null key knocks out the
    * null-keyed row, so re-running a batch that holds one replaces that
    * row instead of adding a copy. The knock-out key is renamed, so a
    * `knock` planned from the table itself cannot make the condition
    * ambiguous. */
  private def byKnockedKey(rows: DataFrame, knock: DataFrame,
                           how: String): DataFrame =
    rows.join(knock.select(col(primaryKey).as("__knock_pk")),
      rows(primaryKey) <=> col("__knock_pk"), how)

  /** THE plan rule of a keyed merge: merge-on-read iff the touched
    * files' LIVE rows (manifest `rows − deletedRowCount`, the exact
    * files the merge scope selected) exceed the batch's row count (the
    * staged footers' rows plus any delete rows) — then hiding the
    * replaced rows and writing only the batch moves fewer bytes than
    * rewriting the slice. Otherwise (a batch about as large as what it
    * touches, an all-new slice, or a file with no recorded row count)
    * the merge rewrites copy-on-write. Metadata only: no job, no
    * option. */
  private def mergeOnRead(touched: Seq[FileEntry], batchRows: Long): Boolean =
    touched.nonEmpty && touched.forall(_.rows >= 0L) &&
      batchRows < touched.iterator.map(e => e.rows - e.deletedRowCount).sum

  /** Commit the merge-on-read side of a merge: `fresh` (the written
    * batch), `kept` by reference, and `touched` with every row whose
    * primary key `knock` carries hidden. ONE probe job reads only the
    * key and row position of `touched`, semi-joins the knock-out keys
    * and builds each matched file's deletion bitmap
    * ([[SnapshotTable.deleteBitmapsOf]], the builder [[deleteMoR]]
    * uses); matched files commit with their old and new vectors
    * unioned (a position already hidden may match again — the union
    * absorbs it), unmatched ones by reference. A NULL key matches the
    * null-keyed row, as in the copy-on-write anti-join
    * ([[byKnockedKey]]). */
  private def commitMergeOnRead(v: Long, m: Manifest, touched: Seq[FileEntry],
                                kept: Seq[FileEntry], fresh: Seq[FileEntry],
                                knock: DataFrame, schema: StructType,
                                scope: FileEntry => Boolean): Unit = {
    val pairs = byKnockedKey(
      readFilesRaw(touched, m.schema, withPos = true)
        .select(col(primaryKey),
          substring_index(col(SnapshotTable.PosFileCol), "/", -1).as("f"),
          col(SnapshotTable.PosIdxCol).as("p")),
      knock, "left_semi")
    val byBase = SnapshotTable.deleteBitmapsOf(pairs)
    val (hit, clean) = touched.partition(e =>
      byBase.contains(SnapshotTable.basename(e.path)))
    commitMerge(v, m, kept ++ clean, fresh, schema, scope,
      vectored = SnapshotTable.withVectors(hit, byBase))
  }

  /** Commit a merge-class rewrite (kept-by-reference + freshly-written
    * files) with OPTIMISTIC conflict retry, Delta/Iceberg-style: losing
    * the version race re-checks whether the interleaved commits touched
    * this merge's read/write scope; a DISJOINT concurrent commit (the
    * common multi-job case — two upserts into different partitions or
    * cluster ranges) re-bases onto the new head and retries, while a
    * genuinely overlapping one keeps failing loudly. The already-written
    * data files are reused as-is — a re-base costs one manifest write,
    * never a data rewrite.
    *
    * Re-base is refused when an interleaved commit:
    *  - changed table METADATA (schema/checks/layout/properties) — the
    *    merge output was conformed and validated against the old state;
    *  - REMOVED or MODIFIED any file this merge read and replaced (the
    *    merge's snapshot of those rows is stale — includes a deletion
    *    vector landing on a replaced file, which rides in the entry's
    *    serialized stats);
    *  - ADDED a file overlapping the merge scope (it could hold a PK
    *    this batch replaces; keeping it would duplicate the key).
    *
    * `vectored` are base files a merge-on-read merge put a deletion
    * vector on (each entry already carries the union). They count as
    * REPLACED for conflict detection — a concurrent commit that
    * removed one, or changed its vector, fails the merge as stale —
    * and a re-base re-applies them over the head's byte-identical
    * entries. */
  private def commitMerge(baseV: Long, base: Manifest,
                          keptFiles: Seq[FileEntry],
                          newFiles: Seq[FileEntry],
                          schema: StructType,
                          overlapsScope: FileEntry => Boolean,
                          vectored: Seq[FileEntry] = Nil): Unit = {
    val keptPaths = keptFiles.map(_.path).toSet
    val replaced = base.entries.map(_.path).filterNot(keptPaths).toSet
    val baseSer = base.entries.map(e => e.path -> e.serialize).toMap
    var v = baseV
    var next = keptFiles ++ vectored ++ newFiles
    var attempt = 0
    while (true) {
      try { commitManifest(v + 1, next, schema); return }
      catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              e.getMessage.contains("commit conflict") && attempt < 5 =>
          attempt += 1
          def stale(why: String) = throw new IllegalStateException(
            s"merge commit conflict at $path: a concurrent commit $why; " +
              "re-run the merge against the new head", e)
          val head = currentVersion.getOrElse(v)
          val hm = readManifest(head)
          if (hm.schema != base.schema || hm.checks != base.checks ||
              hm.layout != base.layout || hm.props != base.props)
            stale("changed table metadata (schema/checks/layout/properties)")
          // partition-spec evolution is metadata too: the merge's new
          // files were laid out under the base's spec
          if (hm.partitionCol != base.partitionCol)
            stale("evolved the partition spec")
          val headSer = hm.entries.map(e => e.path -> e.serialize).toMap
          replaced.foreach { p =>
            headSer.get(p) match {
              case None => stale(s"removed a file this merge replaced ($p)")
              case Some(s) if s != baseSer(p) =>
                stale(s"modified a file this merge replaced ($p)")
              case _ => ()
            }
          }
          val added = hm.entries.filter(e => !baseSer.contains(e.path))
          added.find(overlapsScope).foreach(a =>
            stale(s"added a file inside this merge's scope (${a.path})"))
          next = hm.entries.filterNot(e => replaced(e.path)) ++
            vectored ++ newFiles
          v = head
      }
    }
  }

  /** Atomic full REPLACE: the next version's manifest lists only the
    * new data files — readers see the old snapshot until the manifest
    * commit, then the new one, never a mix; prior versions stay
    * time-travelable until vacuum reclaims them. (The overwrite analog
    * of [[upsert]]; `df.write.format("graft").mode("overwrite")` maps
    * here.) */
  def replace(df: DataFrame): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    // same-named columns keep their ids; a replace that brings a new
    // schema stamps fresh ids for the new columns (mapping survives)
    val src = stampFieldIds(guardChecks(df))
    commitManifest(v + 1, writeDataFiles(src), src.schema)
  }

  /** DYNAMIC partition overwrite as ONE atomic commit (Spark's
    * `partitionOverwriteMode=dynamic` / the partition-scoped half of
    * Delta's `replaceWhere`): the partitions PRESENT in `df` are
    * replaced wholesale by its rows; every other partition's files
    * carry over by reference — zero I/O outside the touched set.
    * The partition-value rendering is [[upsert]]'s (path form, not
    * toString), so escaped and timestamp-valued partitions replace the
    * dirs they actually live in. */
  def replacePartitions(df: DataFrame): Unit = {
    require(tablePartitionCols.nonEmpty,
      s"replacePartitions needs a partitioned table; $path has no " +
        "partition columns (use replace)")
    if (!exists) { create(df); return }
    val v = currentVersion.get
    val m = readManifest(v)
    val schema = declaredSchema.orElse(m.schema)
      .getOrElse(readFiles(m.entries).schema)
    val src = guardChecks(conformToSchema(df, schema))
    val pcs = tablePartitionCols
    // a legacy-vintage file (partition-spec evolution) may hold rows
    // of a replaced logical partition without matching its rendered
    // name — keeping it would leave stale rows beside the replacement.
    // Metadata-only, checked BEFORE the touched-partition job: the
    // refusal must not cost a pass over the input.
    require(m.entries.forall(e => SnapshotTable.specOf(e.path) == pcs),
      s"table at $path mixes partition-spec vintages — run " +
        "migrateSpec() before replacePartitions")
    val touched = src.select(pcs.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => pcs.indices.map(i =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionValueString(
            if (r.isNullAt(i)) null else r.getString(i)))
        .mkString("/"))
      .toSet
    val kept = m.entries.filterNot(f => touched(partOf(f.path)))
    // optimistic re-base like upsert's: a concurrent commit OUTSIDE
    // the replaced partitions re-bases for one manifest write; a file
    // landing INSIDE one (overlapsScope) is a genuine conflict — the
    // overwrite would silently clobber it.
    commitMerge(v, m, kept, writeDataFiles(src), schema,
      e => touched(partOf(e.path)))
  }

  /** Atomic DELETE of the rows matching `predicate`, as ONE manifest
    * commit (Delta's `DELETE FROM` analog). SQL semantics: a row is
    * removed iff the predicate is TRUE — FALSE and NULL rows are kept.
    *
    * File pruning happens in two stages, both before any rewrite I/O:
    * optional manifest min/max `bounds` first (the [[readWhere]] box
    * form — files whose stats can't overlap are never opened), then an
    * exact distributed probe that finds the files actually holding a
    * matching row. Every file with no match carries over BY REFERENCE,
    * so a selective delete against a 100 TB table rewrites O(matching
    * files), never the table. A predicate matching nothing commits
    * nothing at all (the version does not advance).
    *
    * Deleted rows surface in [[changesDelta]] as `before` images with
    * no paired `after` — the file-diff core needs no special casing —
    * so incremental consumers fold deletes exactly like the removal
    * half of an update. Old versions stay time-travelable until
    * [[vacuum]]. */
  def delete(predicate: Column, bounds: Seq[(String, Any, Any)] = Nil): Unit =
    // keep = NOT coalesce(predicate, false): NULL-predicate rows stay.
    // dropFullMatches: files with no surviving visible row are removed
    // as pure metadata (see rewriteWhere) — the retention-delete path.
    withSizeDerivedSplits(
      rewriteWhere(predicate, bounds, dropFullMatches = true)(
        _.filter(!coalesce(predicate, lit(false)))))

  /** MERGE-ON-READ delete: instead of rewriting every file holding a
    * matching row ([[delete]]'s copy-on-write), record the matching ROW
    * POSITIONS as per-file deletion vectors in the manifest — a few
    * bytes of metadata per deleted row, ZERO data files written — and
    * filter them out at read ([[readFiles]] applies vectors on every
    * API read: head, time travel, CDC, upsert merges, DML probes).
    * This is the deletion-vector shape Delta/Iceberg ship for point
    * deletes at scale: a 1-row DELETE on a 100 TB table must not
    * rewrite a 100 MB file. Same SQL semantics as [[delete]] (TRUE
    * removes; FALSE and NULL keep), same two-stage file pruning, same
    * atomic commit; a predicate matching nothing commits nothing.
    * Newly-hidden rows surface in [[changesDelta]] as `before` images
    * (a vector change re-keys the file in the CDC diff), and prior
    * versions time-travel with their OWN vectors.
    *
    * Vectors are purged LAZILY: [[compact]] rewrites DV-carrying
    * partitions, [[purgeDeletes]] does it eagerly, and any
    * copy-on-write rewrite of a touched file clears its vector (new
    * files never carry one).
    *
    * Deliberately capped (`graft.mor.maxDeleteRows` table property,
    * default 64M): positions aggregate into a compressed bitmap PER
    * FILE on the executors (≤ 2 bytes/deleted row crosses the driver,
    * never a Row per position), so the cap is a plan-quality guard —
    * a delete so broad that rewriting is the right physical plan must
    * use [[delete]] — not a memory ceiling. */
  def deleteMoR(predicate: Column,
                bounds: Seq[(String, Any, Any)] = Nil): Unit =
      withSizeDerivedSplits {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val live = m.entries
    // reject non-deterministic predicates BEFORE any pruning: the
    // matched-row plan is evaluated twice (cap-check count, then the
    // bitmap pass), and a rand()-based predicate could pass the cap on
    // evaluation 1 yet match a different, larger row set on evaluation
    // 2. Checked on an analyzed filter over an empty frame with the
    // table schema (the unresolved Column tree reports `deterministic`
    // from child expressions only, which would miss rand()) so the
    // rejection is independent of whether stats/bloom pruning happens
    // to empty the candidate set — the same call must not silently
    // no-op on one data state and start failing on another
    m.schema.orElse(declaredSchema).foreach { sc =>
      val probe = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
        .filter(coalesce(predicate, lit(false)))
      require(probe.queryExecution.analyzed.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.deterministic
        }.forall(identity),
        "deleteMoR requires a deterministic predicate (it is evaluated " +
          "once for the cap check and once for the bitmap build); " +
          "materialize a key list and delete by key instead")
    }
    // same auto-derived, schema-checked box as rewriteWhere: a point
    // MoR delete on a stats-covered key probes only the files that
    // can hold it
    val box =
      if (bounds.nonEmpty) bounds
      else PredicateBounds.deriveFor(predicate, m.schema)
    val cands = bloomNarrow(
      if (box.isEmpty) live else candidatesOf(live, box), box)
    if (cands.isEmpty) return
    val cap = effectiveProps.get("graft.mor.maxDeleteRows")
      .flatMap(_.toLongOption).filter(_ >= 1).getOrElse(64L * 1000 * 1000)
    // the probe sees through EXISTING vectors (same filter readFiles
    // applies): an already-deleted row must not re-enter its file's
    // vector, so re-running the same delete is a clean no-op
    val bcOld = spark.sparkContext.broadcast(SnapshotTable.vectorsOf(cands))
    val visible = udf { (file: String, idx: Long) =>
      bcOld.value.get(SnapshotTable.basename(file))
        .forall(dv => !dv.contains(idx))
    }
    // matched positions are aggregated into one compressed bitmap PER
    // FILE on the executors ([[SnapshotTable.deleteBitmapsOf]]). That is
    // what lets the cap default to 64M (it is a plan-quality guard — "a
    // delete this broad should rewrite" — not a driver-memory ceiling).
    val pairs = readFilesRaw(cands, m.schema, withPos = true)
      .filter(visible(
        col(SnapshotTable.PosFileCol), col(SnapshotTable.PosIdxCol)))
      .filter(coalesce(predicate, lit(false)))
      .select(
        substring_index(col(SnapshotTable.PosFileCol), "/", -1).as("f"),
        col(SnapshotTable.PosIdxCol).as("p"))
    // backstop for the rare manifest with NO recorded schema (the
    // empty-frame determinism probe above could not run there): same
    // check, on the live pairs plan
    if (m.schema.orElse(declaredSchema).isEmpty)
      require(pairs.queryExecution.analyzed.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.deterministic
        }.forall(identity),
        "deleteMoR requires a deterministic predicate (it is evaluated " +
          "once for the cap check and once for the bitmap build); " +
          "materialize a key list and delete by key instead")
    // cap check FIRST, as its own one-row aggregate: an over-cap delete
    // fails before a single bitmap byte is built or shipped (the pruned
    // candidate re-scan below costs less than caching up-to-cap
    // position pairs would — point deletes touch few files)
    val matched = pairs.count()
    if (matched == 0) return // nothing matched: version does not advance
    if (matched > cap)
      throw new IllegalArgumentException(
        s"deleteMoR matched $matched rows at $path (cap $cap) — a " +
          "delete this broad should rewrite files: use delete() " +
          "(copy-on-write), or raise graft.mor.maxDeleteRows")
    val updated = SnapshotTable.withVectors(live,
      SnapshotTable.deleteBitmapsOf(pairs))
    commitManifest(v + 1, updated,
      m.schema.getOrElse(readFiles(m.entries).schema))
  }

  /** Materialize deletion vectors EAGERLY: rewrite only the DV-carrying
    * files without their deleted rows, in one atomic commit — every
    * clean file carries over by reference, and the new files carry no
    * vector. A table with no vectors is a no-op (no version churn).
    * Not required for correctness on any read path (API reads, the
    * DSv2/SQL scan and SQL DML all apply vectors transparently) — run
    * it, or [[compact]] (which purges lazily), to restore the
    * VECTORIZED columnar scan: a DV'd snapshot reads row-based
    * ([[graft.sources.GraftDvReaderFactory]]). */
  def purgeDeletes(): Unit = {
    val v = currentVersion.getOrElse(return)
    val m = readManifest(v)
    val (dvd, clean) = m.entries.partition(_.hasDeletes)
    if (dvd.isEmpty) return
    val rewritten = writeDataFiles(readFiles(dvd, m.schema))
    commitManifest(v + 1, clean ++ rewritten,
      m.schema.getOrElse(readFiles(m.entries).schema))
  }

  /** Atomic UPDATE (Delta's `UPDATE ... SET` analog): rows matching
    * `predicate` get each `set` column replaced by its expression, in
    * ONE manifest commit, with the same two-stage file pruning as
    * [[delete]] — untouched files carry over by reference. All SET
    * expressions evaluate against the OLD row (standard SQL UPDATE
    * semantics: `SET a = b, b = a` swaps), and each value is cast back
    * to the column's declared type so the table schema can never drift.
    * Updating the PARTITION column is allowed: rewritten rows land in
    * their new partition's directory (the partitioned write re-derives
    * the dir from the row). */
  def update(set: Map[String, Column], predicate: Column,
             bounds: Seq[(String, Any, Any)] = Nil): Unit =
    // SETting a partition column can move a row to a NEW dir, so only
    // updates leaving every partition col alone may hint the dir count
    withSizeDerivedSplits(rewriteWhere(predicate, bounds,
      dirsPreserved = set.keySet.intersect(tablePartitionCols.toSet).isEmpty) { df =>
      val unknown = set.keySet.diff(df.columns.toSet)
      require(unknown.isEmpty, s"update of unknown column(s): $unknown")
      val cond = coalesce(predicate, lit(false))
      // ONE select so every SET expression sees the pre-update row; the
      // match flag rides along so constraints check exactly the
      // POST-images of modified rows (carried rows are never re-checked)
      val flag = "__graft_updated"
      val updated = df.select(df.columns.toIndexedSeq.map { c =>
        set.get(c) match {
          case Some(e) =>
            when(cond, e.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } :+ cond.as(flag): _*)
      guardChecks(updated, col(flag)).drop(flag)
    })

  /** Shared DML core: stats-prune candidates (`bounds`), probe for the
    * files actually holding a predicate match, rewrite ONLY those
    * through `rewrite`, carry everything else over by reference, and
    * commit once — through [[commitMerge]], so losing the version race
    * to a DISJOINT concurrent commit re-bases instead of failing. A
    * predicate matching nothing commits nothing.
    *
    * With `dropFullMatches` (DELETE's path — an UPDATE must rewrite),
    * a candidate file whose VISIBLE rows ALL match is dropped from the
    * manifest BY REFERENCE: zero rewrite I/O. That is the
    * retention-delete fast path at scale — `DELETE WHERE date < X`
    * over a date-clustered 100 TB table stats-prunes to the aged
    * files, proves full coverage in the probe (which reads only the
    * predicate's columns, columnar), and removes them as pure
    * metadata; only boundary files holding a survivor row rewrite.
    * The probe counts VISIBLE rows (deletion vectors applied), so a
    * DV-carrying file fully matched on its remaining rows drops too;
    * CDC needs no special case — a dropped file is a manifest remove,
    * surfacing its visible rows as before-images. */
  /** @param dirsPreserved the rewrite never changes a partition-column
    *   value (DELETE's filter; an UPDATE not SETting a partition col),
    *   so the output dirs ⊆ the rewritten files' dirs — lets the write
    *   size its shuffle to that count (see writeDataFiles' dirHint). */
  private def rewriteWhere(predicate: Column, bounds: Seq[(String, Any, Any)],
                           dropFullMatches: Boolean = false,
                           dirsPreserved: Boolean = true)
                          (rewrite: DataFrame => DataFrame): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val live = m.entries
    // no explicit bounds → derive a conservative box from the
    // predicate itself (PredicateBounds): `DELETE WHERE date < X`
    // stats-prunes with no caller hand-holding, like Delta/Iceberg;
    // schema-checked so a literal in a different unit than the
    // column's stats (decimal/date/timestamp) derives nothing
    val box =
      if (bounds.nonEmpty) bounds
      else PredicateBounds.deriveFor(predicate, m.schema)
    val cands = bloomNarrow(
      if (box.isEmpty) live else candidatesOf(live, box), box)
    if (cands.isEmpty) return
    // exact probe, ONE pass over the candidates' predicate columns:
    // which files hold a TRUE row, and does any visible row survive?
    // O(distinct files) rows cross the driver, never data. Basenames
    // are commit-UUID-prefixed, hence unique across the whole table.
    import SnapshotTable.basename
    val hit = readFiles(cands, m.schema)
      .groupBy(input_file_name().as("__f"))
      .agg(
        sum(when(coalesce(predicate, lit(false)), 1L).otherwise(0L))
          .as("__matches"),
        count(lit(1)).as("__rows"))
      .filter(col("__matches") > 0)
      .collect()
      .map(r => basename(r.getString(0)) -> (r.getLong(1) == r.getLong(2)))
      .toMap
    val touchedAll = cands.filter(e => hit.contains(basename(e.path)))
    if (touchedAll.isEmpty) return
    val (_, rewriteFiles) =
      if (dropFullMatches) touchedAll.partition(e => hit(basename(e.path)))
      else (Seq.empty[FileEntry], touchedAll)
    val goneSet = touchedAll.map(_.path).toSet
    val carried = live.filterNot(e => goneSet(e.path))
    val (newFiles, committedSchema) =
      if (rewriteFiles.isEmpty)
        // every touched file fully matched: a METADATA-ONLY commit
        (Seq.empty[FileEntry],
          m.schema.getOrElse(readFiles(live, m.schema).schema))
      else {
        // re-stamp: UPDATE's CASE-WHEN projection drops attribute
        // metadata and the rewritten files must keep their field ids
        val rewritten =
          stampFieldIds(rewrite(readFiles(rewriteFiles, m.schema)))
        // value-preserving rewrites of current-spec files can't emit a
        // row outside the touched dirs — size the shuffle to them
        val pcs = tablePartitionCols
        val hint =
          if (dirsPreserved && pcs.nonEmpty &&
              rewriteFiles.forall(e => SnapshotTable.specOf(e.path) == pcs))
            Some(rewriteFiles.map(e => partOf(e.path)).distinct.size)
          else None
        (writeDataFiles(rewritten, dirHint = hint), rewritten.schema)
      }
    // concurrent ADDS never conflict (overlapsScope = false): DML
    // binds to the snapshot it read — Delta's WriteSerializable — so
    // rows an interleaved commit added are simply not covered.
    // Removal/modification of a touched file, or any metadata change,
    // still fails the re-base loudly (commitMerge's checks).
    commitMerge(v, m, carried, newFiles, committedSchema, _ => false)
  }

  /** Delta's `ALTER TABLE DROP CONSTRAINT` analog: a METADATA-ONLY
    * commit (every file carries over by reference) whose manifest no
    * longer logs the named CHECK — writers constructed after it stop
    * enforcing. Unknown names fail loudly: silently "dropping" a
    * constraint that never existed usually means a typo and a
    * constraint the caller believes gone but still enforced. */
  def dropCheckConstraint(name: String): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    require(m.checks.exists(_._1 == name),
      s"no CHECK constraint named '$name' at $path " +
        s"(logged: ${m.checks.map(_._1).mkString(", ")})")
    require(!checkConstraints.exists(_._1 == name),
      s"cannot drop '$name' through a handle that re-declares it " +
        "(constructor constraints re-log on every commit)")
    droppedChecks += name
    commitManifest(v + 1, m.entries,
      m.schema.getOrElse(readFiles(m.entries).schema))
  }

  /** Names excluded from the carry-forward of logged constraints on
    * this handle's commits ([[dropCheckConstraint]]). */
  private val droppedChecks = scala.collection.mutable.Set.empty[String]

  /** Delta `RESTORE` analog: make the table's NEXT version an exact
    * copy of `targetVersion`'s manifest — a metadata-only commit (every
    * file carries over by reference, zero data I/O), so a bad write is
    * undone atomically while the bad version itself stays
    * time-travelable until [[vacuum]] reclaims it. The target must
    * still be within the vacuum retention window: restoring to a
    * vacuumed version has no files left to reference. */
  def restoreTo(targetVersion: Long): Unit = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    require(targetVersion <= v,
      s"cannot restore to future version $targetVersion (current $v)")
    if (targetVersion == v) return
    val m = readManifest(targetVersion)
    commitManifest(v + 1, m.entries,
      m.schema.getOrElse(readFiles(m.entries).schema))
  }

  /** Touched by the first evolveSchema upsert; its presence is the only
    * case where reads must merge footers across files. */
  private def evolvedMarker = new Path(s"$path/_evolved")

  /** Read a file set with MERGE-ON-READ deletes applied: files carrying
    * a deletion vector ([[deleteMoR]], a merge-on-read merge) are read
    * through it inside the parquet reader ([[DvParquetFileFormat]]), so
    * the plan keeps a clean read's shape. Every API read routes here,
    * so a deleted row can never resurface through time travel, CDC,
    * upsert merges, compaction or the DML probe paths. */
  private def readFiles(entries: Seq[FileEntry],
                        manifestSchema: Option[StructType] = None): DataFrame =
    readFilesRaw(entries, manifestSchema,
      vectors = SnapshotTable.vectorsOf(entries))

  /** Read a file set, planning from manifest metadata when possible.
    *
    * `manifestSchema` is the schema the files' manifest logged at
    * commit; an explicit `declaredSchema` overrides it (pinning), and
    * with neither the read falls back to footer inference. A read typed
    * by a manifest schema handles files written before a schema
    * evolution too: parquet resolves columns by name, so a column
    * absent from an old file simply reads as null under the newer
    * schema — the per-version schema IS the mergeSchema answer.
    *
    * `withPos = true` appends two provenance columns straight off the
    * scan's `_metadata` struct — [[SnapshotTable.PosFileCol]] (the
    * file path) and [[SnapshotTable.PosIdxCol]] (the row's position in
    * its file) — the coordinates deletion vectors are expressed in.
    * `vectors` (file basename → deletion bitmap) hides those rows; the
    * position-reading callers pass none. */
  private def readFilesRaw(entries: Seq[FileEntry],
                           manifestSchema: Option[StructType] = None,
                           withPos: Boolean = false,
                           vectors: Map[String, graft.functions.DeleteBitmap] = Map.empty)
      : DataFrame = {
    val effective = declaredSchema.orElse(manifestSchema)
    if (entries.isEmpty) {
      // a delete can legitimately empty the table; parquet() with zero
      // paths cannot infer a schema, so type the empty frame explicitly
      val s = effective.getOrElse(throw new IllegalStateException(
        s"snapshot at $path has no data files and no schema to " +
          "type an empty read"))
      val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      return if (!withPos) base
      else base
        .withColumn(SnapshotTable.PosFileCol, lit(null).cast("string"))
        .withColumn(SnapshotTable.PosIdxCol, lit(null).cast("long"))
    }
    // id-mapped schema + id matching OFF would silently resolve by
    // name — the one configuration that can read WRONG bytes
    if (effective.exists(SnapshotTable.idMapped))
      SnapshotTable.requireIdReadEnabled(spark, s"table at $path")
    // Manifest-index fast path: the scan is planned from manifest
    // metadata ALONE ([[ManifestFileIndex]]) — no directory listing, no
    // per-file stat (spark.read.parquet(paths*) stats every explicit
    // path: ~5s per 2,400-file snapshot read, twice per upsert, at the
    // pipeline's shape). Requires a schema covering the partition
    // column (nothing may be inferred without I/O) and recorded file
    // lengths (manifests written before either was logged fall back to
    // the listing path below).
    val indexable = effective.exists(s => entries.iterator
        .flatMap(e => SnapshotTable.specOf(e.path)).forall(s.fieldNames.contains)) &&
      entries.forall(_.len >= 0) &&
      // files under Hive dirs with NO known partition column (possible
      // only for manifests from before the layout was logged) must take
      // the inferring path — the index would plan the partition column
      // as data and read it null
      (tablePartitionCols.nonEmpty || entries.forall(e => !e.path.contains("=")))
    if (indexable)
      return indexedRead(dataDir, entries, effective.get, withPos, vectors)
    // Listing fallback (pre-schema/pre-meta manifests). mergeSchema only
    // once the table has actually evolved: a snapshot then mixes pre-
    // and post-evolution files (untouched partitions carry over by
    // reference) and the new column must surface as null for the old
    // ones. On a never-evolved table the option would turn every read
    // into an O(files) footer-merge job for nothing — the marker check
    // is one FS metadata op instead.
    val r = spark.read.option("basePath", dataDir)
      .option("mergeSchema", fs.exists(evolvedMarker).toString)
    val listed = effective.fold(r)(s => r.schema(s))
      .parquet(entries.map(e => s"$dataDir/${e.path}"): _*)
    // vectors apply inside the reader here too: the relation the
    // listing resolved (its files, schema and options) re-read through
    // the vector-applying format
    val frame =
      if (vectors.isEmpty) listed
      else listed.queryExecution.analyzed match {
        case LogicalRelationWithTable(fsRel: HadoopFsRelation, _) =>
          spark.baseRelationToDataFrame(fsRel.copy(
            fileFormat = new DvParquetFileFormat(vectors))(spark))
        case other => throw new IllegalStateException(
          s"listed read of $path planned ${other.nodeName}, not a file relation")
      }
    if (!withPos) frame
    else frame.select(frame.columns.toIndexedSeq.map(col) ++ posCols: _*)
  }

  /** The provenance projection: (file path, row position) straight off
    * the parquet scan's metadata struct, aliased to reserved names so
    * callers can address them without re-resolving `_metadata`. */
  private def posCols: Seq[Column] = Seq(
    col("_metadata.file_path").as(SnapshotTable.PosFileCol),
    col("_metadata.row_index").as(SnapshotTable.PosIdxCol))

  /** Read `entries` (paths relative to `root`: the data dir, or a
    * stage) under `schema`, planned from the entries alone through a
    * [[ManifestFileIndex]]. Files group by the spec THEIR OWN paths
    * encode: after a partition-spec evolution a snapshot legitimately
    * mixes vintages, and each group plans with its own partition
    * schema — old files' evolved-away partition values come from their
    * dirs, the same column in new files reads as plain data (and vice
    * versa). */
  private def indexedRead(root: String, entries: Seq[FileEntry],
                          schema: StructType, withPos: Boolean = false,
                          vectors: Map[String, graft.functions.DeleteBitmap] = Map.empty)
      : DataFrame = {
    val named = schema.fieldNames.toIndexedSeq.map(col)
    entries.groupBy(e => SnapshotTable.specOf(e.path)).toSeq
      .sortBy(_._1.mkString(","))
      .map { case (spec, es) =>
        val partSchema = StructType(
          spec.flatMap(c => schema.fields.find(_.name == c)))
        val dataSchema = StructType(
          schema.fields.filterNot(f => spec.contains(f.name)))
        val rel = HadoopFsRelation(
          new ManifestFileIndex(spark, root, es, partSchema),
          partSchema, dataSchema, None,
          if (vectors.isEmpty)
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetFileFormat
          else new DvParquetFileFormat(vectors),
          Map.empty)(spark)
        // relation schema is dataSchema ++ partitionSchema; restore
        // the declared column order (metadata provenance resolved
        // HERE, on the relation-rooted frame, where `_metadata` is
        // in scope)
        spark.baseRelationToDataFrame(rel)
          .select((if (withPos) named ++ posCols else named): _*)
      }
      .reduce(_ unionByName _)
  }

  /** Planning inputs for an external scan of one snapshot (the DSv2
    * `format("graft")` table plans with these): the version's manifest
    * entries (file lengths guaranteed present — pre-meta manifests pay
    * one stat per file, once, here), the schema reads should be typed
    * by, and the table's partition column. Metadata-only: no data I/O. */
  private[graft] def scanInfo(version: Option[Long] = None)
      : (Seq[FileEntry], StructType, Seq[String]) = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    val m = readManifest(v)
    val schema = declaredSchema.orElse(m.schema).getOrElse(
      readFiles(m.entries).schema) // pre-schema manifest: infer via footers
    val entries = inParallel(m.entries)(e =>
      if (e.len >= 0) e
      else {
        val st = fs.getFileStatus(new Path(s"$dataDir/${e.path}"))
        e.copy(stats = e.stats +
          FileEntry.metaStat(st.getLen, st.getModificationTime))
      })
    // the VERSION'S OWN logged spec, not the handle's current one: a
    // versionAsOf read pinned before a partition-spec evolution must
    // plan (and pass the uniform-spec check) under the spec its files
    // were laid out by. Falls back to the handle's resolution for
    // pre-layout manifests (no partition line logged).
    val spec = m.partitionCol.map(SnapshotTable.specOfCsv)
      .getOrElse(tablePartitionCols)
    (entries, schema, spec)
  }

  /** The table-relative data root (`<path>/data`) external planners
    * resolve manifest paths against. */
  private[graft] def dataDirPath: String = dataDir

  /** [[scanInfo]]'s entries for version `v`, with missing history
    * surfaced as the operational fact it is — the offset was vacuumed
    * — instead of the log machinery's raw failure. ONE translation
    * shared by every streaming/feed consumer ([[graft.sources]]): the
    * catch arms string-match the replay chain's error, and a second
    * copy would silently stop translating if that wording moved. */
  private[graft] def retainedEntriesAt(v: Long, label: String)
      : Seq[FileEntry] = {
    def vacuumed() = new IllegalStateException(
      s"$label offset v$v of $path is no longer retained (vacuumed) — " +
        "restart from a fresh checkpoint with startingVersion = " +
        "'latest' or a retained version")
    try scanInfo(Some(v))._1
    catch {
      // pre-delta logs surfaced a vacuumed version as the manifest's
      // FileNotFound; the delta log surfaces it as a broken replay
      // chain ("no commit record") — same operational fact
      case _: java.io.FileNotFoundException => throw vacuumed()
      case e: IllegalStateException
          if Option(e.getMessage).exists(_.contains("no commit record")) =>
        throw vacuumed()
    }
  }

  /** CDC / incremental read: the new row images committed in versions
    * (fromV, toV] — every row inserted or updated since fromV. Rows
    * removed by [[delete]] have no new image and so do not appear here;
    * consumers that must observe deletes read [[changesDelta]]'s
    * `before` images. Downstream consumers re-process only the delta
    * instead of re-reading the table.
    *
    * Cost is O(rewritten partitions), never O(table): files carried
    * over by reference are immutable and identical in both manifests,
    * so only files NEW in toV are read, diffed against fromV's files of
    * the same partitions (a rewrite includes the partition's unchanged
    * rows, which the EXCEPT removes). */
  def changes(fromV: Long, toV: Long): DataFrame =
    changesDelta(fromV, toV)
      .filter(col(SnapshotTable.ImageCol) === "after")
      .drop(SnapshotTable.ImageCol)

  /** CDC with BEFORE and AFTER images: every row removed-or-replaced in
    * (fromV, toV] tagged `before`, every row inserted-or-new tagged
    * `after` (an update contributes one of each; carried-over rows
    * contribute nothing). This is the algebra downstream state needs to
    * refresh INCREMENTALLY — `agg += f(after) − f(before)` — without
    * re-reading the table: cost stays O(rewritten partitions), and a
    * materialized aggregate maintained this way is exact, not
    * approximate. Same file-diff core as [[changes]]. */
  def changesDelta(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes: fromV $fromV > toV $toV")
    require(toV >= 1, s"changes: toV $toV — versions start at 1")
    val img = SnapshotTable.ImageCol
    val mTo = readManifest(toV)
    // fromV == 0 is the EMPTY pre-v1 state: "every change since the
    // beginning" — all of toV's rows as after-images (readManifest
    // itself rejects version 0, which used to make this public span
    // unreadable)
    val mFrom =
      if (fromV == 0L)
        Manifest(Nil, mTo.schema, mTo.partitionCol, mTo.checks,
          mTo.layout, mTo.props)
      else readManifest(fromV)
    // file identity for the diff is (path, deletion vector): a file
    // whose vector changed (deleteMoR) is the same bytes on disk but a
    // DIFFERENT visible row set — treating it as removed-at-old-
    // visibility + added-at-new makes the multiset diff below emit
    // exactly the newly-hidden rows as before images, with no special
    // casing (readFiles applies each side's own vector)
    def key(e: FileEntry): (String, String) =
      (e.path, e.stats.get(FileEntry.DvKey).map(_._1).getOrElse(""))
    val before = mFrom.entries.map(key).toSet
    val after = mTo.entries.map(key).toSet
    // a file whose vector only GREW (deleteMoR, a merge-on-read
    // upsert) changed by exactly its newly-hidden rows: those are read
    // as before images, position-filtered, instead of the whole file
    // at both visibilities (which would cancel pairwise in the diff)
    val fromByPath = mFrom.entries.map(e => e.path -> e).toMap
    val grown = mTo.entries.flatMap { e =>
      fromByPath.get(e.path).filter(o => key(o) != key(e)).flatMap { o =>
        val (was, is) = (o.deletedBitmap, e.deletedBitmap)
        if (was.union(is) != is) None
        else Some(o -> graft.functions.DeleteBitmap.fromAscending(
          is.iterator.filterNot(was.contains)))
      }
    }
    val grownPaths = grown.map(_._1.path).toSet
    val newEntries = mTo.entries.filterNot(e =>
      before(key(e)) || grownPaths(e.path))
    // REMOVED files matter independently of added ones: a delete can
    // take a file away without leaving a replacement (delete-all
    // leaves none anywhere) and its rows must surface as before-images
    val removedEntries = mFrom.entries.filterNot(e =>
      after(key(e)) || grownPaths(e.path))
    if (newEntries.isEmpty && removedEntries.isEmpty && grown.isEmpty) {
      // type the empty frame by toV's OWN schema, not the current
      // head's — the table may have evolved after toV, and an empty
      // span must not change shape depending on later commits
      val toSchema = mTo.schema.orElse(declaredSchema).getOrElse(read.schema)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], toSchema)
        .withColumn(img, lit(""))
    }
    // MULTISET diff of the to-only files against the from-only files.
    // Files present in BOTH manifests are immutable and identical, so
    // their rows would contribute +1 and −1 to every group and cancel
    // exactly — reading only the path-level diff gives the same answer
    // as diffing the full partition states, at O(changed files) I/O.
    // Multiset (not EXCEPT) semantics matter because append keeps
    // duplicate rows on purpose: a row inserted identical to an
    // existing one (or one copy of a duplicate removed) must still
    // emit its image, or an incremental consumer silently drifts.
    // Signed-union + grouped sum is null-safe (groupBy groups nulls)
    // and costs one shuffle, like EXCEPT did; the signed count's
    // magnitude is the image multiplicity.
    val newRows = readFiles(newEntries, mTo.schema)
    if (removedEntries.isEmpty && grown.isEmpty)
      newRows.withColumn(img, lit("after"))
    else {
      // a span crossing a schema-evolution commit reads old files
      // without the new columns: pad them with nulls so the diff lines
      // up column-for-column
      val hidden =
        if (grown.isEmpty) None
        else {
          val bc = spark.sparkContext.broadcast(grown.map { case (o, bm) =>
            SnapshotTable.basename(o.path) -> bm }.toMap)
          val newlyHidden = udf { (file: String, idx: Long) =>
            bc.value(SnapshotTable.basename(file)).contains(idx)
          }
          val raw = readFilesRaw(grown.map(_._1), mFrom.schema, withPos = true)
          Some(raw.filter(newlyHidden(
              col(SnapshotTable.PosFileCol), col(SnapshotTable.PosIdxCol)))
            .drop(SnapshotTable.PosFileCol, SnapshotTable.PosIdxCol))
        }
      val oldRows = (
        (if (removedEntries.isEmpty) None
         else Some(readFiles(removedEntries, mFrom.schema))) ++ hidden)
        .reduce(_ unionByName _)
      val oldAligned =
        if (oldRows.columns.sameElements(newRows.columns)) oldRows
        else oldRows.unionByName(newRows.limit(0), allowMissingColumns = true)
          .select(newRows.columns.toIndexedSeq.map(col): _*)
      val cols = newRows.columns.toIndexedSeq
      val signed = newRows.withColumn("__s", lit(1L))
        .unionByName(oldAligned.withColumn("__s", lit(-1L)))
        .groupBy(cols.map(col): _*).agg(sum("__s").as("__d"))
      signed.filter(col("__d") =!= 0L)
        .withColumn(img,
          explode(array_repeat(
            when(col("__d") > 0, lit("after")).otherwise(lit("before")),
            abs(col("__d")).cast("int"))))
        .select((cols.map(col) :+ col(img)): _*)
    }
  }

  /** The manifest entries of the current version whose stats range can
    * overlap EVERY [lower, upper] bound — the data-skipping candidate
    * set, decided on manifest METADATA alone. Files without stats for a
    * bound's column are conservatively kept for that bound. */
  def candidateFiles(bounds: (String, Any, Any)*): Seq[FileEntry] =
    candidatesOf(currentManifest.entries, bounds)

  private[graft] def candidatesOf(entries: Seq[FileEntry],
                           bounds: Seq[(String, Any, Any)]): Seq[FileEntry] =
    candidatesEncoded(entries, bounds.map { case (c, lo, hi) =>
      (c, FileEntry.enc(lo), FileEntry.enc(hi))
    })

  /** [[candidatesOf]] over bounds already tagged the way footer stats
    * are (a staged batch's own footer range). */
  private def candidatesEncoded(entries: Seq[FileEntry],
                                encoded: Seq[(String, String, String)])
      : Seq[FileEntry] = {
    entries.filter(e => encoded.forall { case (c, lo, hi) =>
        e.stats.get(c) match {
          // compare only within a tag family: a bound typed differently
          // from the footer stats (schema drift) keeps the file — pruning
          // must never be wrong, only sometimes useless
          case Some((mn, mx)) if mn.take(2) == lo.take(2) && mx.take(2) == hi.take(2) =>
            val ord = FileEntry.valueOrdering
            ord.lteq(mn, hi) && ord.gteq(mx, lo) // ranges overlap
          case _ => true
        }
      })
  }

  /** PREDICATE-pruned read — the API twin of the DSv2 scan's file
    * skipping, and of the DML candidate path: derive a conservative
    * box from the predicate itself ([[PredicateBounds]],
    * schema-checked), narrow by manifest min/max stats and then by
    * per-file blooms for the point constraints, open only the
    * surviving files, and apply the EXACT predicate on top. A
    * predicate the deriver cannot analyze (OR, UDFs…) reads the
    * table and filters — correct always, pruned when provable. */
  def readMatching(predicate: Column): DataFrame = {
    val m = currentManifest
    val box = PredicateBounds.deriveFor(predicate, m.schema)
    val cands = bloomNarrow(
      if (box.isEmpty) m.entries else candidatesOf(m.entries, box), box)
    val base =
      if (cands.nonEmpty) readFiles(cands, m.schema)
      else m.schema match {
        // an all-pruned read is the BEST case and must look like one:
        // a typed empty frame from THIS manifest's schema — not
        // read.limit(0), which re-resolves the head (a concurrent
        // commit could type it differently) and reports every live
        // file in inputFiles (reading as "no pruning" to any caller
        // that checks)
        case Some(schema) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        case None => read.limit(0) // pre-schema manifest: infer
      }
    base.filter(predicate)
  }

  /** Box-predicate read with manifest-level data skipping: only files
    * whose min/max can overlap every bound are opened — O(matching
    * files) I/O, not O(table) — then the exact filter is applied on
    * top, so the result is correct whether or not stats exist. */
  def readWhere(bounds: (String, Any, Any)*): DataFrame = {
    val m = currentManifest
    val cand = candidatesOf(m.entries, bounds)
    // parquet() with zero paths cannot infer a schema — an all-pruned
    // predicate must still return an empty frame of the table's schema
    val base = if (cand.isEmpty) read.limit(0) else readFiles(cand, m.schema)
    bounds.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .foldLeft(base)(_.filter(_))
  }

  /** The current version's manifest entries that might contain EVERY
    * probe key, decided on manifest metadata alone: min/max stats first
    * (the key must sit inside the file's range), then the per-file
    * bloom (which can rule the key out even when the range can't —
    * the high-cardinality non-clustered case). Files without a bloom
    * for a probed column are conservatively kept. */
  def candidateFilesEq(points: (String, Any)*): Seq[FileEntry] =
    candidateFiles(points.map { case (c, v) => (c, v, v) }: _*)
      .filter(e => points.forall { case (c, v) => bloomKeeps(e, c, v) })

  /** May file `e` contain `v` in column `c`, judged by its bloom?
    * A probe may only consult a bloom of ITS OWN type family — a long
    * probe against a string-built bloom (or vice versa) hashes
    * unrelated bytes and would prune files that DO contain the key;
    * on mismatch (or no bloom) the file is conservatively kept (the
    * exact filter on top stays correct either way). */
  private def bloomKeeps(e: FileEntry, c: String, v: Any): Boolean =
    e.bloom(c) match {
      case Some(("BL:", bf)) => v match {
        case n: Long => bf.mightContainLong(n)
        case n: Int => bf.mightContainLong(n.toLong)
        case n: Short => bf.mightContainLong(n.toLong)
        case n: Byte => bf.mightContainLong(n.toLong)
        case _ => true
      }
      case Some(("BS:", bf)) => v match {
        case s: String => bf.mightContainString(s)
        case _ => true
      }
      case _ => true // no bloom, or unknown tag: never prune
    }

  /** Narrow a stats-pruned candidate set further with per-file blooms
    * for every POINT constraint (`lo == hi`, i.e. an equality the
    * predicate implies) — the DML pruning path for
    * `DELETE WHERE user_id = X` on a bloom-indexed high-cardinality
    * column, where min/max ranges keep almost everything. Sound for
    * the same reason the stats box is: a TRUE row must hold exactly
    * `v`, so a file whose bloom rules `v` out holds no matching row. */
  private def bloomNarrow(cands: Seq[FileEntry],
                          box: Seq[(String, Any, Any)]): Seq[FileEntry] = {
    val points = box.collect { case (c, lo, hi) if lo == hi => (c, lo) }
    if (points.isEmpty) cands
    else cands.filter(e =>
      points.forall { case (c, v) => bloomKeeps(e, c, v) })
  }

  /** Manifest-planned read of EXACTLY the named partitions: the file
    * set is decided on manifest metadata alone — by construction, no
    * other partition's files enter the plan (the deterministic form of
    * "did dynamic pruning fire?"). `values` are the partition column's
    * string-rendered values (what the Hive dirs encode); null selects
    * the default partition. The O(delta) maintenance pattern: collect
    * the touched partition values (O(partitions) driver data), then
    * re-read just those. */
  def readPartitions(values: Seq[String]): DataFrame = {
    require(tablePartitionCols.size == 1,
      s"readPartitions targets single-column layouts; table at $path " +
        s"partitions by ${tablePartitionCols.mkString(",")}")
    val m = currentManifest
    // exact-name matching is only sound when every live file is laid
    // out under the CURRENT spec — an older vintage's rows would be
    // silently absent from the named partitions otherwise
    require(m.entries.forall(e =>
        SnapshotTable.specOf(e.path) == tablePartitionCols),
      s"table at $path mixes partition-spec vintages — run " +
        "migrateSpec() before readPartitions")
    val dirs = values.map(v =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionValueString(v)).toSet
    val kept = m.entries.filter(e => dirs(partOf(e.path)))
    if (kept.isEmpty) read.limit(0) else readFiles(kept, m.schema)
  }

  /** Point-lookup read with bloom + min/max file skipping: only files
    * that might contain every probe key are opened, then the exact
    * equality filter applies on top — correct with or without blooms,
    * O(matching files) I/O with them. */
  def readWhereEq(points: (String, Any)*): DataFrame = {
    val cand = candidateFilesEq(points: _*)
    val base =
      if (cand.isEmpty) read.limit(0)
      else readFiles(cand, currentManifest.schema)
    points.foldLeft(base) { case (df, (c, v)) => df.filter(col(c) === lit(v)) }
  }

  /** OPTIMIZE analog, incremental: bin-packs small files toward
    * `targetFileBytes`, rewriting ONLY partitions whose file count
    * would actually shrink — every already-right-sized partition
    * carries over BY REFERENCE, so the cost is O(fragmented data),
    * never O(table). One atomic commit; a no-op (nothing fragmented)
    * commits nothing at all. Old versions stay time-travelable until
    * vacuum; clustered tables are re-range-clustered at the packed
    * file count, so compacted files remain skippable. */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
              minFiles: Int = 2): Unit = withSizeDerivedSplits {
    val v = currentVersion.getOrElse(return)
    val m = readManifest(v)
    val live = m.entries
    // file sizes come from the MANIFEST (FileEntry.len, logged at
    // commit time) — the frequent case (the streaming sink probes
    // compact every epoch) costs zero filesystem calls. Only legacy
    // entries written before lengths were logged (len < 0) fall back
    // to one listStatus per directory holding such a file.
    val legacyDirs = live.filter(_.len < 0).map { e =>
      val slash = e.path.lastIndexOf('/')
      if (slash < 0) "" else e.path.substring(0, slash)
    }.distinct
    val liveSet = live.map(_.path).toSet
    val listed: Map[String, Long] = legacyDirs.flatMap { dir =>
      val p = if (dir.isEmpty) new Path(dataDir) else new Path(s"$dataDir/$dir")
      fs.listStatus(p).toSeq.collect {
        case st if !st.isDirectory =>
          val rel = if (dir.isEmpty) st.getPath.getName
                    else s"$dir/${st.getPath.getName}"
          rel -> st.getLen
      }.filter(kv => liveSet(kv._1))
    }.toMap
    // total function: a live entry missing from both sources (raced
    // rewrite) sizes as 0 — compact then under-packs instead of
    // throwing mid-plan
    def sizeOf(e: FileEntry): Long =
      if (e.len >= 0) e.len else listed.getOrElse(e.path, 0L)
    def packed(es: Seq[FileEntry]): Int =
      math.max(1, math.ceil(es.map(sizeOf).sum.toDouble
        / targetFileBytes).toInt)
    // a partition holding any DV-carrying file is always a rewrite
    // candidate: compaction is deletion vectors' LAZY purge point —
    // readFiles drops the deleted rows on the way through, and the
    // packed replacement files carry no vector
    val (frag, keep) = live.groupBy(e => partOf(e.path)).partition {
      case (_, es) => es.exists(_.hasDeletes) ||
        (es.size >= minFiles && packed(es) < es.size)
    }
    if (frag.isEmpty) return
    val files = frag.values.flatten.toSeq
    val packIn = readFiles(files, m.schema)
    // dirHint: packing a current-spec file never moves a row across
    // dirs, so the rewrite touches exactly the fragmented dirs. A
    // LEGACY-spec file (partition evolution) re-lays its rows out
    // under the current spec — dir count unknown, hint withheld.
    // (Ignored by the clustered/unpartitioned branches, which size by
    // packFiles instead.)
    val packHint =
      if (tablePartitionCols.nonEmpty &&
          files.forall(e => SnapshotTable.specOf(e.path) == tablePartitionCols))
        Some(frag.size)
      else None
    val rewritten = writeDataFiles(packIn, packFiles = Some(packed(files)),
      dirHint = packHint)
    // optimistic re-base: compaction claims no exclusivity over FUTURE
    // files (a concurrent append into a packed partition just carries
    // over unpacked — overlapsScope = false), so losing the version
    // race to a disjoint writer costs one manifest retry, never a
    // repack. An interleaved commit that removed/modified a file this
    // pack read (a DELETE rewrite, a DV landing) still fails loudly:
    // the packed output would resurrect its rows.
    commitMerge(v, m, keep.values.flatten.toSeq, rewritten,
      m.schema.getOrElse(packIn.schema), _ => false)
  }

  /** Reclaim files referenced by no retained manifest: crashed-commit
    * orphans and data aged out of the last `keepVersions` snapshots.
    *
    * Safe next to in-flight writers (Delta-style age gate): an
    * unreferenced file, empty directory or `_stage` subtree is only
    * deleted once older than `retentionMs`, so the staged/just-moved
    * files (and freshly-mkdir'd partition dirs) of a concurrent upsert
    * whose manifest hasn't committed yet are left alone. Size
    * `retentionMs` above the longest plausible write duration — an
    * in-flight commit older than it can still be clobbered.
    * `retentionMs = 0` is the single-writer fast path (reclaim
    * everything unreferenced now). */
  // ---- BRANCHES: writable named commit lines (Iceberg branches)

  private def branchesRoot = new Path(s"$path/_branches")

  /** A handle onto branch `name` — same path, same data directory,
    * its own commit log. Carries this handle's writer configuration
    * (primary key, layout, constraints) verbatim; the branch's logged
    * metadata governs where the log speaks. */
  def forBranch(name: String): SnapshotTable =
    new SnapshotTable(spark, path, primaryKey, partitionCol,
      declaredSchema, statsCols, clusterBy, clusterFiles, bloomCols,
      bloomExpectedItems, bloomFpp, checkConstraints, partitionCols,
      tableProps, branch = Some(name))

  /** The session this handle operates in (maintenance flows that
    * derive further handles from one — [[MaterializedAgg]]). */
  private[graft] def session: SparkSession = spark

  /** This handle with a different MERGE key — for maintenance flows
    * that must WRITE a table whose key is fixed by convention (the
    * `refresh_mv` procedure writes views keyed by
    * [[MaterializedAgg.KeyCol]] through a catalog handle that was
    * constructed read-only). Everything else carries verbatim. */
  def withPrimaryKey(pk: String): SnapshotTable =
    new SnapshotTable(spark, path, pk, partitionCol, declaredSchema,
      statsCols, clusterBy, clusterFiles, bloomCols, bloomExpectedItems,
      bloomFpp, checkConstraints, partitionCols, tableProps, branch)

  /** Fork branch `name` from `fromVersion` (default: the head): ONE
    * atomic metadata write — the branch's v1 is a full manifest
    * referencing the fork point's files verbatim (schema, partition
    * layout, checks, layout and properties carried), zero data I/O.
    * Branch commits then evolve independently under
    * `_branches/<name>`; the MAIN handle's [[vacuum]] retains every
    * branch's file references, and [[dropBranch]] releases them. Main
    * handles only: branching a branch would nest retention semantics
    * nothing audits. */
  def createBranch(name: String, fromVersion: Option[Long] = None): Unit = {
    require(branch.isEmpty,
      s"createBranch from the MAIN handle of $path (this handle is " +
        s"branch '${branch.get}')")
    val v = fromVersion.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    if (!hasVersion(v)) throw new IllegalArgumentException(
      s"cannot branch from v$v at $path — never committed or vacuumed")
    val bh = forBranch(name)
    if (bh.exists) throw new IllegalStateException(
      s"branch '$name' already exists at $path")
    val m0 = readManifest(v)
    // the branch records its FORK POINT as a logged property (carried
    // forward by every branch commit) — what publishBranch's
    // fast-forward check reads
    val m = m0.copy(props =
      m0.props + (SnapshotTable.ForkVersionProp -> v.toString))
    fs.mkdirs(new Path(bh.commitsDir))
    if (!bh.atomicExclusiveWrite(bh.manifestPath(1L),
        checkpointPayload(1L, m), UUID.randomUUID().toString))
      throw new IllegalStateException(
        s"branch '$name' already exists at $path (concurrent fork)")
    bh.writeLatestHint(1L)
  }

  /** Fast-forward PUBLISH (the Iceberg write-audit-publish pattern):
    * main advances to branch `name`'s head in ONE atomic metadata
    * write — a full manifest at main's next version carrying the
    * branch state verbatim (entries, schema, partitioning, checks,
    * layout, properties), zero data I/O. Allowed only while main
    * still sits at the branch's FORK POINT: a diverged main fails
    * loudly (merge/rebase is out of scope — re-fork and replay).
    * The branch itself stays for further work; [[dropBranch]]
    * separately. The WAP loop: fork → write and AUDIT on the branch
    * (nothing visible on main) → publish. */
  def publishBranch(name: String): Unit = {
    require(branch.isEmpty, s"publishBranch from the MAIN handle of $path")
    val bh = forBranch(name)
    val bv = bh.currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $path"))
    val bm = bh.readManifest(bv)
    val fork = bm.props.get(SnapshotTable.ForkVersionProp)
      .flatMap(_.toLongOption).getOrElse(
        throw new IllegalStateException(
          s"branch '$name' at $path carries no fork-version metadata"))
    val head = currentVersion.getOrElse(0L)
    if (head != fork) throw new IllegalStateException(
      s"cannot fast-forward: main advanced to v$head past branch " +
        s"'$name''s fork point v$fork — fork a fresh branch and replay")
    // The publish commits through commitManifest — the SAME record kind
    // (delta for v>1) and exclusive filename as every regular commit,
    // so a racing writer of ANY kind arbitrates at the atomic link:
    // exactly one v-record lands, the loser throws. (An earlier
    // revision wrote a v<n>.manifest directly, a DIFFERENT filename a
    // racing delta could not arbitrate against — a perfectly
    // interleaved pair silently shadowed the regular commit.) The
    // branch's own logged metadata rides via the override params; the
    // layout is rebuilt on THIS instance's path-dependent types.
    val schema = bm.schema.getOrElse(throw new IllegalStateException(
      s"branch '$name' at $path logs no schema — cannot publish"))
    commitManifest(head + 1L, bm.entries, schema,
      checksOverride = Some(bm.checks),
      layoutOverride = Some(bm.layout
        .map(l => Layout(l.statsCols, l.clusterBy, l.clusterFiles,
          l.bloomCols, l.bloomItems, l.bloomFpp))
        .getOrElse(DefaultLayout)),
      propsOverride = Some(bm.props - SnapshotTable.ForkVersionProp))
    // best-effort full checkpoint on top (the delta won; a published
    // head is a common read target and this spares its readers the
    // delta replay) — a failure here costs replay depth, never
    // correctness
    if (head + 1L > 1L)
      try writeCheckpoint(head + 1L,
        checkpointPayload(head + 1L, readManifest(head + 1L)))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Existing branch names. O(branches) metadata. */
  def branches: Seq[String] = {
    if (!fs.exists(branchesRoot)) return Nil
    fs.listStatus(branchesRoot).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
  }

  /** Drop branch `name` whole — its commit log, hints and tags; data
    * files only it referenced become unreferenced and the next main
    * [[vacuum]] reclaims them. Unknown branches fail loudly. */
  def dropBranch(name: String): Unit = {
    require(branch.isEmpty, s"dropBranch from the MAIN handle of $path")
    val dir = new Path(s"$path/_branches/$name")
    if (!fs.exists(dir)) throw new IllegalArgumentException(
      s"no branch '$name' at $path")
    if (!fs.delete(dir, true) && fs.exists(dir))
      throw new IllegalStateException(
        s"could not drop branch '$name' at $path")
  }

  // ---- TAGS: named snapshots (Iceberg refs / `VERSION AS OF 'name'`)

  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*"

  private def tagPath(name: String): Path = {
    require(name.matches(TagNameRe),
      s"tag name '$name' must match $TagNameRe")
    // SQL `VERSION AS OF '123'` resolves NUMERICALLY first, so an
    // all-digit tag would be silently shadowed by version 123 there
    // while tagAsOf resolved the tag — two surfaces disagreeing on
    // the same name. Refuse the ambiguity at creation.
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — indistinguishable from a " +
        "version number in VERSION AS OF")
    new Path(s"$commitsDir/tag-$name")
  }

  /** Pin a retained version under a name. Tagged versions survive
    * [[vacuum]] — commit record and data files — until [[dropTag]]:
    * the "keep the monthly snapshot" contract (Iceberg tags). A tag
    * is immutable once created (re-pointing is dropTag + tag, two
    * auditable operations). Exclusive-create is the race arbiter on
    * namespaces where create-no-overwrite is atomic (local, HDFS);
    * tag racing is a rare human-level operation, same caveat class
    * as Delta's S3 single-writer note. */
  def tag(name: String, version: Option[Long] = None): Unit = {
    val v = version.orElse(currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    if (!hasVersion(v)) throw new IllegalArgumentException(
      s"cannot tag v$v at $path — never committed or vacuumed")
    val p = tagPath(name)
    if (fs.exists(p)) throw new IllegalStateException(
      s"tag '$name' already exists at $path — dropTag it first")
    val out = fs.create(p, false)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Remove a tag; the version it pinned becomes reclaimable by the
    * next [[vacuum]] like any other. Unknown tags fail loudly. */
  def dropTag(name: String): Unit = {
    val p = tagPath(name)
    if (!fs.exists(p)) throw new IllegalArgumentException(
      s"no tag '$name' at $path")
    if (!fs.delete(p, false) && fs.exists(p))
      throw new IllegalStateException(s"could not drop tag '$name' at $path")
  }

  /** All tags: name → pinned version. O(tags) metadata reads. */
  def tags: Map[String, Long] = {
    val dir = new Path(commitsDir)
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator
      .filter(_.getPath.getName.startsWith("tag-"))
      .flatMap(st => readLongFile(st.getPath)
        .map(st.getPath.getName.stripPrefix("tag-") -> _))
      .toMap
  }

  /** The version a tag pins, if the tag exists. Total: an invalid or
    * unknown name is None, never an exception — callers use this to
    * DISAMBIGUATE (is this string a tag?), e.g. the catalog's
    * `VERSION AS OF` resolution. */
  def versionOfTag(name: String): Option[Long] =
    if (!name.matches(TagNameRe) || name.forall(_.isDigit)) None
    else readLongFile(tagPath(name))

  /** Snapshot read of a tagged version. */
  def readTag(name: String): DataFrame =
    readVersion(versionOfTag(name).getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' at $path")))

  /** Everything [[vacuum]] must keep: the keep-window versions, the
    * tagged versions (pinned regardless of the window — the Iceberg
    * refs contract: "keep the monthly snapshot" survives every later
    * vacuum until dropTag), and the data paths those versions plus
    * every travelable BRANCH version reference (branch logs are only
    * dropped whole; ascending replay keeps this one delta parse per
    * branch version). A keep-window version may ALREADY be vacuumed (a
    * prior run with a smaller keepVersions) — skipped, not a crash.
    * Shared by [[vacuum]] and [[vacuumDryRun]] so the dry run can
    * never disagree with the sweep. */
  private def retainedRefs(v: Long, keepVersions: Int)
      : (scala.collection.immutable.NumericRange.Inclusive[Long],
         Set[Long], Set[String]) = {
    val keep = ((v - keepVersions + 1) max 1L) to v
    val tagged = tags.values.toSet.filter(hasVersion)
    val branchRefs: Set[String] = branches.flatMap { b =>
      val bh = forBranch(b)
      bh.currentVersion.toSeq.flatMap(bv =>
        (1L to bv).filter(bh.hasVersion)
          .flatMap(bh.readManifest(_).entries.map(_.path)))
    }.toSet
    val referenced = (keep.filter(hasVersion).toSet ++ tagged)
      .flatMap(readManifest(_).entries.map(_.path)) ++ branchRefs
    (keep, tagged, referenced)
  }

  /** What [[vacuum]] WOULD reclaim, touching nothing: the
    * unreferenced-and-aged data files, table-relative — the operator's
    * pre-flight before an irreversible sweep (Delta's `VACUUM ... DRY
    * RUN`). Commit-record housekeeping (aged deltas/checkpoints) is
    * not listed: it is reconstructable metadata governed by the same
    * version rules either way. */
  def vacuumDryRun(keepVersions: Int = 2,
                   retentionMs: Long = 60 * 60 * 1000L): Seq[String] = {
    require(branch.isEmpty,
      s"vacuum from the MAIN handle of $path — data retention is " +
        "decided across ALL branches")
    val v = currentVersion.getOrElse(return Nil)
    val cutoff = System.currentTimeMillis() - retentionMs
    val (_, _, referenced) = retainedRefs(v, keepVersions)
    val root = new Path(dataDir)
    if (!fs.exists(root)) return Nil
    val out = Seq.newBuilder[String]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) walk(st.getPath, childRel)
        else if (!referenced(childRel) && st.getModificationTime <= cutoff)
          out += childRel
      }
    walk(root, "")
    out.result().sorted
  }

  def vacuum(keepVersions: Int = 2, retentionMs: Long = 60 * 60 * 1000L): Unit = {
    // the data directory is SHARED with every branch: a branch
    // handle's log knows nothing about main's (or sibling branches')
    // references, so only the main handle — which unions them all
    // below — may decide a data file is garbage
    require(branch.isEmpty,
      s"vacuum from the MAIN handle of $path — branch '${branch.getOrElse("")}' " +
        "logs are dropped whole by dropBranch, and data retention is " +
        "decided across ALL branches")
    val v = currentVersion.getOrElse(return)
    val cutoff = System.currentTimeMillis() - retentionMs
    val (keep, tagged, referenced) = retainedRefs(v, keepVersions)
    // the retained versions must stay reconstructable AFTER the older
    // records go: materialize a full checkpoint at the horizon version
    // AND at every pinned tagged version below it first (their base
    // chains may reach below the horizon). Ordering is the
    // crash-safety: checkpoint before any delete, so an interrupted
    // vacuum never strands a retained version. Retained versions above
    // the horizon then replay from it.
    val horizon = keep.head
    val needCheckpoint =
      keep.find(hasVersion).toSeq ++ tagged.filter(_ < horizon).toSeq.sorted
    needCheckpoint.foreach { pinned =>
      if (!fs.exists(manifestPath(pinned))) {
        writeCheckpoint(pinned, checkpointPayload(pinned,
          readManifest(pinned)))
        // writeCheckpoint is best-effort by contract; HERE it is
        // load-bearing — verify before any record below it is dropped,
        // abort loudly otherwise (nothing is lost by aborting: data
        // sweep below only touches unreferenced files)
        if (!fs.exists(manifestPath(pinned)))
          throw new IllegalStateException(
            s"vacuum at $path failed to materialize a checkpoint at " +
              s"v$pinned — aborting before dropping its base chain")
      }
    }
    // drop commit records older than the retention window (and forget
    // their cached parses: a reclaimed version must fail time travel,
    // not be served from this handle's memory); tagged versions keep
    // theirs (now checkpoint manifests — self-contained)
    val dir = new Path(commitsDir)
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      // orphaned parquet-twin tmp dirs (a writer crashed between the
      // parquet write and the rename) parse as no version below and
      // would otherwise never be reclaimed; age-gate on the retention
      // cutoff so an IN-FLIGHT twin write is never swept
      if (n.startsWith(".cpq-") && st.getModificationTime < cutoff)
        fs.delete(st.getPath, true)
      val mv =
        if (n.startsWith("v") && n.endsWith(".manifest"))
          Some(n.stripPrefix("v").stripSuffix(".manifest").toLong)
        else if (n.startsWith("v") && n.endsWith(".delta"))
          Some(n.stripPrefix("v").stripSuffix(".delta").toLong)
        else if (n.startsWith("ckpt-v") && n.endsWith(".parquet"))
          // the parquet twin ages out with its text checkpoint; a
          // TAGGED version keeps both (the twin is what makes its
          // pinned cold-open cheap)
          Some(n.stripPrefix("ckpt-v").stripSuffix(".parquet").toLong)
        else None
      mv.filter(_ < horizon).foreach { old =>
        // a tagged version keeps its CHECKPOINT manifest (materialized
        // and verified above — self-contained); its now-redundant
        // delta record still drops. Everything untagged goes whole.
        if (!(tagged(old) &&
            (n.endsWith(".manifest") || n.startsWith("ckpt-v")))) {
          fs.delete(st.getPath, n.startsWith("ckpt-v"))
          if (!tagged(old))
            manifestCache.synchronized(manifestCache.remove(old))
        }
      }
    }
    // delete unreferenced-AND-aged data files, then empty partition dirs
    val root = new Path(dataDir)
    if (!fs.exists(root)) return
    def sweep(p: Path, rel: String): Boolean = { // returns "now empty"
      var empty = true
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          // the age gate applies to empty DIRS too: a concurrent upsert
          // mkdirs() a new partition dir just before moving files in —
          // deleting it in that window aborts the writer's rename
          if (sweep(st.getPath, childRel) && st.getModificationTime <= cutoff)
            fs.delete(st.getPath, false)
          else empty = false
        } else if (!referenced(childRel) &&
                   st.getModificationTime <= cutoff) fs.delete(st.getPath, false)
        else empty = false
      }
      empty
    }
    sweep(root, "")
    // _stage subtrees: only reap those past the retention age — a young
    // one may belong to an upsert that is mid-move
    val stageRoot = new Path(s"$path/_stage")
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot).foreach { st =>
        if (st.getModificationTime <= cutoff) fs.delete(st.getPath, true)
      }
  }
}

object SnapshotTable {
  /** Open size-derived-split scopes per session: (depth, the
    * `minPartitionNum` value the outermost scope found). Guarded by its
    * own monitor; an entry lives only while a scope is open. */
  private val splitScopes =
    mutable.Map.empty[SparkSession, (Int, Option[String])]

  private val MinPartitionNumKey = "spark.sql.files.minPartitionNum"

  /** THE deletion-vector builder, shared by [[SnapshotTable.deleteMoR]]
    * and the merge-on-read side of a merge: `pairs` holds one
    * (`f` = file basename, `p` = row position) per row to hide. Each
    * task sorts its own pairs by (file, position) — a local, spillable
    * sort, no shuffle and so no extra stage or job — and builds one
    * compressed bitmap per file run STREAMING over the sorted run (no
    * task materializes a file's position array); only (basename,
    * encoded bitmap) crosses to the driver, ≤ 2 bytes per hidden row
    * instead of a Row per position. A file whose rows spread over
    * several tasks (splits, a shuffled join) yields one bitmap per
    * task; the driver unions them. */
  private[graft] def deleteBitmapsOf(pairs: DataFrame)
      : Map[String, graft.functions.DeleteBitmap] = {
    import pairs.sparkSession.implicits._
    pairs.select(col("f"), col("p")).as[(String, Long)]
      .sortWithinPartitions("f", "p")
      .mapPartitions { rows =>
        val buf = rows.buffered
        new Iterator[(String, String)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (String, String) = {
            dvBitmapsBuilt.incrementAndGet()
            val base = buf.head._1
            val run = new Iterator[Long] {
              def hasNext: Boolean = buf.hasNext && buf.head._1 == base
              def next(): Long = buf.next()._2
            }
            val bm = graft.functions.DeleteBitmap.fromAscending(run)
            (base, FileEntry.encodeDvAscending(bm.iterator))
          }
        }
      }
      .collect()
      .groupMapReduce(_._1)(r =>
        graft.functions.DeleteBitmap.fromAscending(FileEntry.dvIterator(r._2)))(
        _ union _)
  }

  /** A data file's basename — commit-UUID-prefixed, hence unique
    * across the whole table: the key deletion vectors are looked up by. */
  private[graft] def basename(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** basename → deletion bitmap for every entry carrying a vector —
    * the one map every vector-applying read (API, DSv2 scan, stream,
    * SQL DML) is handed. Empty for a clean file set. */
  private[graft] def vectorsOf(entries: Seq[FileEntry])
      : Map[String, graft.functions.DeleteBitmap] =
    entries.iterator.filter(_.hasDeletes)
      .map(e => basename(e.path) -> e.deletedBitmap).toMap

  /** `entries` with each file named in `byBase` (basename → bitmap)
    * carrying the UNION of its existing vector and the new one. */
  private[graft] def withVectors(entries: Seq[FileEntry],
                                 byBase: Map[String, graft.functions.DeleteBitmap])
      : Seq[FileEntry] =
    if (byBase.isEmpty) entries
    else entries.map { e =>
      byBase.get(basename(e.path))
        .fold(e)(bm => e.withDeletedBitmap(e.deletedBitmap.union(bm)))
    }

  /** Run `body` with `spark.sql.files.minPartitionNum` = 1 (see
    * [[SnapshotTable.withSizeDerivedSplits]]). Scopes nest and overlap
    * across threads: a depth count under one lock means only the
    * OUTERMOST scope of a session saves the prior value and only the
    * last one to close restores it — a save/restore pair per scope
    * would let an inner or interleaved scope "restore" the floor of 1
    * it found set by another, leaving it on the session for good. */
  private[graft] def sizeDerivedSplits[A](spark: SparkSession)(body: => A): A = {
    splitScopes.synchronized {
      splitScopes.get(spark) match {
        case Some((depth, saved)) => splitScopes(spark) = (depth + 1, saved)
        case None =>
          splitScopes(spark) = (1, spark.conf.getOption(MinPartitionNumKey))
          spark.conf.set(MinPartitionNumKey, "1")
      }
    }
    try body
    finally splitScopes.synchronized {
      val (depth, saved) = splitScopes(spark)
      if (depth > 1) splitScopes(spark) = (depth - 1, saved)
      else {
        splitScopes.remove(spark)
        saved match {
          case Some(v) => spark.conf.set(MinPartitionNumKey, v)
          case None => spark.conf.unset(MinPartitionNumKey)
        }
      }
    }
  }

  /** Deletion-vector bitmaps built by [[SnapshotTable.deleteMoR]]'s
    * streaming per-file pass — observability hook for the spec proving
    * the over-cap path fails BEFORE any bitmap is built (in local mode
    * executor tasks share the JVM, so the counter is exact). */
  private[graft] val dvBitmapsBuilt = new java.util.concurrent.atomic.AtomicLong

  /** Image tag column emitted by [[SnapshotTable.changesDelta]]. */
  val ImageCol = "_change_image"

  /** Commit-version column the change-feed reads append
    * ([[graft.sources.GraftCdcScan]]) — which commit produced each
    * image (Delta CDF's `_commit_version` analog). */
  val CommitVersionCol = "_commit_version"

  /** COLUMN-ID MAPPING (Delta column-mapping / Iceberg field-id
    * analog): tables created with TBLPROPERTIES
    * (`graft.columnMapping`='id') stamp every field with a stable
    * parquet FIELD ID (Spark's own `parquet.field.id` metadata key,
    * written into file footers and matched by the parquet readers when
    * `spark.sql.parquet.fieldId.read.enabled` is on — every read path,
    * V1 and DSv2/SQL alike, resolves columns by ID instead of name).
    * That makes RENAME a metadata-only commit (same id, new name),
    * DROP a schema-minus-field commit, and a re-ADD of a dropped name
    * safe: the new column gets a FRESH id, so the dropped column's
    * bytes (same name, old id) can never resurface as its values. */
  val MappingProp = "graft.columnMapping"

  /** Is `from` → `to` a metadata-only SAFE widening? Delta 4.0 /
    * Iceberg V3's type-promotion set: every value of `from` is exactly
    * representable in `to` and the Spark 4 parquet readers (vectorized
    * and row-based alike) promote the physical encoding natively —
    * verified empirically per pair. Manifest pruning stays EXACT
    * because the stat tags either coincide across the widening ("L:"
    * at every integral width, "D:" for both floats, "T:" micros across
    * date→timestamp_ntz, "C:" carries its own scale so decimal
    * precision/scale growth compares numerically) or land in a
    * different family (int→double/decimal), where [[FileEntry
    * .valueOrdering]]-guarded consumers conservatively keep the file.
    *
    *  - integrals up the byte<short<int<long lattice ("L:" verbatim)
    *  - float→double ("D:" verbatim)
    *  - byte/short/int→double (exact in a 53-bit mantissa; long is NOT
    *    — 2^63-1 rounds — and stays refused)
    *  - byte/short/int/long→decimal(p,s) with s≥0 and p−s integer
    *    digits enough for the source width (3/5/10/19)
    *  - decimal(p,s)→decimal(p',s') with s'≥s and p'−s' ≥ p−s (the
    *    integer part never shrinks; rescaling pads zeros exactly)
    *  - date→timestamp_ntz (midnight local; timestamp WITH local
    *    timezone would reinterpret the value under a session zone and
    *    stays refused — Spark's reader refuses it too) */
  /** Spark's OWN default-column metadata keys ([[addColumn]]): a field
    * carrying `EXISTS_DEFAULT` is filled by the parquet readers when a
    * file lacks its chunk; `CURRENT_DEFAULT` is what SQL INSERT
    * resolution consults. Using Spark's keys (not graft-private ones)
    * is the whole design — every reader and the analyzer already honor
    * them. */
  private[graft] val CurrentDefaultKey = org.apache.spark.sql.catalyst
    .util.ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  private[graft] val ExistsDefaultKey = org.apache.spark.sql.catalyst
    .util.ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  private[graft] def integralType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  def isSafeWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType, d: DecimalType) =>
        d.scale >= 0 && d.precision - d.scale >= 3
      case (ShortType, d: DecimalType) =>
        d.scale >= 0 && d.precision - d.scale >= 5
      case (IntegerType, d: DecimalType) =>
        d.scale >= 0 && d.precision - d.scale >= 10
      case (LongType, d: DecimalType) =>
        d.scale >= 0 && d.precision - d.scale >= 19
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale
      case (DateType, TimestampNTZType) => true
      case _ => false
    }

  /** One column change of a multi-change ALTER statement — the catalog
    * collects these and pre-validates the WHOLE sequence
    * ([[SnapshotTable!.validateAlterSequence]]) before committing any,
    * so a mixed ALTER whose later change is invalid leaves the table
    * untouched (per-statement atomicity for validation failures). */
  sealed trait ColumnAlter
  final case class RenameCol(oldName: String, newName: String)
    extends ColumnAlter
  final case class DropCol(name: String) extends ColumnAlter
  final case class WidenCol(name: String, to: DataType) extends ColumnAlter

  /** Monotone field-id high-water mark, logged as a table property so
    * an id is never reused across drop/re-add. */
  val MaxIdProp = "graft.colmap.maxId"

  /** The main-line version a branch forked from, logged in the branch's
    * v1 and carried by every branch commit — [[SnapshotTable.publishBranch]]'s
    * fast-forward check reads it. */
  val ForkVersionProp = "graft.branch.forkVersion"

  /** Spark's reserved metadata key the parquet writer/readers honor. */
  val FieldIdKey = "parquet.field.id"

  private[graft] def fieldIdOf(f: org.apache.spark.sql.types.StructField)
      : Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** Whether a schema is fully id-mapped (every field stamped). */
  private[graft] def idMapped(s: StructType): Boolean =
    s.nonEmpty && s.fields.forall(f => fieldIdOf(f).isDefined)

  private[graft] def mdWithId(base: org.apache.spark.sql.types.Metadata,
                              id: Long): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(base).putLong(FieldIdKey, id).build()

  private[graft] def mdWithoutId(base: org.apache.spark.sql.types.Metadata)
      : org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(base).remove(FieldIdKey).build()

  /** Reads of an id-mapped table MUST run with id matching on: with it
    * off, the readers silently fall back to NAME resolution and a
    * renamed/re-added column reads the wrong bytes — fail loudly
    * instead. */
  private[graft] def requireIdReadEnabled(spark: SparkSession,
                                          what: String): Unit =
    if (!spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false")
          .toBoolean)
      throw new IllegalStateException(
        s"$what is column-id mapped: set " +
          "spark.sql.parquet.fieldId.read.enabled=true (else renamed/" +
          "re-added columns would silently resolve by name)")

  /** Provenance columns a `withPos` read appends: the row's file path
    * and its position within that file — the coordinate system
    * deletion vectors are expressed in. Reserved names (no sane data
    * column collides). */
  private[graft] val PosFileCol = "__graft_pos_file"
  private[graft] val PosIdxCol = "__graft_pos_idx"

  /** The Hive-dir-encoded partition value(s) of a table-relative file
    * path, "/"-joined for multi-level layouts ("F/5" for
    * `status=F/month=5/file`; null level → __HIVE_DEFAULT_PARTITION__;
    * "" for unpartitioned — values never contain a literal '/', the
    * escaper encodes it). ONE definition shared by the table's
    * touched-partition detection and [[ManifestFileIndex]]'s partition
    * grouping — if these ever disagreed, a touched partition could look
    * untouched and carry stale files over a rewrite. */
  private[graft] def partOf(rel: String): String =
    rel.split("/").iterator.filter(_.contains("="))
      .map(_.split("=", 2)(1)).mkString("/")

  /** Per-column partition values of a table-relative path:
    * name → raw Hive-encoded value. */
  private[graft] def partValuesOf(rel: String): Map[String, String] =
    rel.split("/").iterator.filter(_.contains("="))
      .map { seg => val a = seg.split("=", 2); (a(0), a(1)) }.toMap

  /** The PARTITION SPEC a file was written under — the ordered key
    * names its Hive directories encode (Nil for an unpartitioned
    * vintage). After a partition-spec evolution ([[SnapshotTable.repartitionTo]])
    * a snapshot legitimately mixes vintages, and each file must be
    * read and merge-scoped under ITS OWN spec; the path IS the spec
    * record, so no manifest format change is needed. */
  private[graft] def specOf(rel: String): Seq[String] =
    rel.split("/").iterator.filter(_.contains("="))
      .map(_.split("=", 2)(0)).toSeq

  def apply(spark: SparkSession, path: String, primaryKey: String,
            partitionCol: Option[String] = None,
            declaredSchema: Option[StructType] = None,
            statsCols: Seq[String] = Nil,
            clusterBy: Seq[String] = Nil,
            clusterFiles: Int = 0,
            bloomCols: Seq[String] = Nil,
            bloomExpectedItems: Long = 100000L,
            bloomFpp: Double = 0.03,
            checkConstraints: Seq[(String, Column)] = Nil,
            partitionCols: Seq[String] = Nil,
            tableProps: Map[String, String] = Map.empty,
            branch: Option[String] = None): SnapshotTable =
    new SnapshotTable(spark, path, primaryKey, partitionCol, declaredSchema,
      statsCols, clusterBy, clusterFiles, bloomCols, bloomExpectedItems,
      bloomFpp, checkConstraints, partitionCols, tableProps, branch)

  /** EXACT `COUNT(*)` of a snapshot from its manifest entries alone —
    * Σ(file rows) − Σ(deletion-vector cardinality) — or None when any
    * live file predates row-count recording (the caller then falls
    * back to a scan). The lakehouse metadata-count contract
    * (Delta/Iceberg `numRecords`): at 100 TB, `SELECT COUNT(*)` is an
    * O(manifest) driver operation, not a table scan. */
  def metadataRowCount(entries: Seq[FileEntry]): Option[Long] =
    if (entries.exists(_.rows < 0L)) None
    else Some(entries.iterator.map(e => e.rows - e.deletedRowCount).sum)

  /** EXACT `count(col)` of a snapshot from its manifest entries —
    * Σ(file rows − column null count) — or None when any live file
    * predates null-count recording, lacks the column's count (nested
    * or partition column), or carries a deletion vector: the manifest
    * does not know how many of the HIDDEN rows were null, so unlike
    * `COUNT(*)` a DV'd file cannot subtract its way to exactness. */
  def metadataColumnCount(entries: Seq[FileEntry], colName: String)
      : Option[Long] =
    if (entries.exists(e => e.rows < 0L || e.hasDeletes)) None
    else {
      val per = entries.map(e => e.nullCount(colName).map(e.rows - _))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }

  /** Schema of the parquet checkpoint TWIN: one row per live file,
    * stats as sorted parallel key/min/max arrays — the columnar,
    * splittable form of the text checkpoint's entry list. Shared by
    * the twin writer, the cold-open decode, and the LAZY DSv2 scan
    * path ([[SnapshotTable!.lazyScanState]]). */
  private[graft] val CkptSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("skeys",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)),
    org.apache.spark.sql.types.StructField("smins",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false)),
    org.apache.spark.sql.types.StructField("smaxs",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = false))))

  /** The explicit UNPARTITIONED marker in a manifest's partition line.
    * An ABSENT line is ambiguous — legacy pre-layout manifests logged
    * nothing while Hive dirs exist on disk — so a table evolved to
    * flat ([[SnapshotTable!.repartitionTo]](Nil)) logs
    * `partition\t<marker>`, which parses back as `Some("")`: "the
    * write layout is EXPLICITLY flat", distinct from `None` ("never
    * logged"). */
  private[graft] val FlatSpecMarker = "__flat__"

  /** A logged partition CSV decoded to its column list — `Some("")`
    * (explicit flat) and `Some("a,b")` both pass through here so no
    * consumer ever splits an empty string into `Seq("")`. */
  private[graft] def specOfCsv(csv: String): Seq[String] =
    if (csv.isEmpty) Nil else csv.split(",").toSeq

  /** A twin row ([[CkptSchema]]) decoded back to a [[FileEntry]]. */
  private[graft] def entryOfCkptRow(r: org.apache.spark.sql.Row): FileEntry = {
    val ks = r.getSeq[String](1)
    val mns = r.getSeq[String](2)
    val mxs = r.getSeq[String](3)
    FileEntry(r.getString(0),
      ks.indices.iterator.map(i => ks(i) -> (mns(i), mxs(i))).toMap)
  }

  /** A [[FileEntry]] encoded as a twin row ([[CkptSchema]]). */
  private[graft] def ckptRowOf(e: FileEntry): org.apache.spark.sql.Row = {
    val ks = e.stats.keys.toArray.sorted.toIndexedSeq
    org.apache.spark.sql.Row(e.path, ks,
      ks.map(k => e.stats(k)._1), ks.map(k => e.stats(k)._2))
  }

  /** One manifest line: a table-relative file path plus optional
    * per-column (min, max) stats, values tagged `L:`/`D:`/`S:` so they
    * order correctly at prune time (strings URL-encoded — tabs and
    * newlines can appear in data values). */
  final case class FileEntry(path: String, stats: Map[String, (String, String)]) {
    def serialize: String =
      (path +: stats.toSeq.sortBy(_._1).flatMap { case (c, (mn, mx)) =>
        Seq(c, mn, mx)
      }).mkString("\t")

    /** File length from the reserved `file:meta` stats entry, or -1 for
      * manifests written before lengths were recorded (readers needing
      * a length then fall back to a filesystem stat). */
    def len: Long = meta.fold(-1L)(_._1)

    /** ROW COUNT of the file from the reserved `file:rows` stats entry
      * (footer-exact, recorded at promote), or -1 for manifests
      * written before counts were recorded. Together with
      * [[deletedRowCount]] this makes `COUNT(*)` a pure
      * manifest-metadata operation ([[SnapshotTable.metadataRowCount]]). */
    def rows: Long = stats.get(FileEntry.RowsKey)
      .flatMap(_._1.stripPrefix("L:").toLongOption).getOrElse(-1L)

    /** Cardinality of the file's deletion vector WITHOUT decoding it
      * (the count rides as the DV stat's second value); 0 when clean. */
    def deletedRowCount: Long = stats.get(FileEntry.DvKey)
      .flatMap(_._2.stripPrefix("L:").toLongOption).getOrElse(0L)

    /** NULL COUNT of a top-level column from the reserved
      * `nulls:<col>` stats entry, or None for manifests written before
      * null counts were recorded (or nested/partition columns, which
      * have no footer chunk of their own). */
    def nullCount(c: String): Option[Long] =
      stats.get(FileEntry.nullsKey(c))
        .flatMap(_._1.stripPrefix("L:").toLongOption)

    /** Modification time from `file:meta`, or -1 when unrecorded. */
    def mtime: Long = meta.fold(-1L)(_._2)

    private def meta: Option[(Long, Long)] =
      stats.get(FileEntry.MetaKey).flatMap { case (l, m) =>
        for {
          len <- l.stripPrefix("L:").toLongOption
          mt <- m.stripPrefix("L:").toLongOption
        } yield (len, mt)
      }

    /** The file's Bloom filter for `c` with its type-family tag
      * ("BL:" long, "BS:" string), if one was built at write. */
    def bloom(c: String)
        : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
      stats.get(FileEntry.bloomKey(c)).collect {
        case (v, _) if v.length > 3 && v.charAt(2) == ':' =>
          (v.take(3), graft.functions.BloomSketch.fromBase64(v.drop(3)))
      }

    /** O(1) does-this-file-carry-a-deletion-vector probe — key
      * presence only, NO decode. Every existence check must use this:
      * `deletedRows.nonEmpty` materializes the full vector (up to
      * hundreds of MB at the 64M-row cap) just to test emptiness. */
    def hasDeletes: Boolean = stats.contains(FileEntry.DvKey)

    /** Row positions deleted from this otherwise-live file (deletion
      * vector), sorted ascending; empty when none. Prefer
      * [[deletedBitmap]] on membership-heavy paths — this array form
      * exists for the (driver-side, per-changed-file) CDC set algebra. */
    def deletedRows: Array[Long] =
      stats.get(FileEntry.DvKey)
        .map(v => FileEntry.decodeDv(v._1))
        .getOrElse(Array.emptyLongArray)

    /** The deletion vector as a compressed Roaring-style bitmap
      * ([[graft.functions.DeleteBitmap]]): ≤ 2 bytes/deleted row in
      * memory and O(1) membership on dense containers — what the scan
      * broadcasts and probes. */
    def deletedBitmap: graft.functions.DeleteBitmap =
      stats.get(FileEntry.DvKey)
        .map(v => graft.functions.DeleteBitmap.fromAscending(
          FileEntry.dvIterator(v._1)))
        .getOrElse(graft.functions.DeleteBitmap.empty)

    /** This entry with `positions` recorded as its deletion vector
      * (replacing any previous one — callers union first). */
    def withDeletedRows(positions: Array[Long]): FileEntry =
      copy(stats = stats + FileEntry.dvStat(positions))

    /** This entry with the bitmap recorded as its deletion vector —
      * streamed straight into the varint encoding, no Long-array
      * materialization. */
    def withDeletedBitmap(bm: graft.functions.DeleteBitmap): FileEntry =
      copy(stats = stats + FileEntry.dvStatAscending(bm.iterator, bm.cardinality))
  }

  object FileEntry {
    /** Blooms ride in the stats map under a reserved key prefix (the
      * manifest line format is untouched; plain column stats keys can
      * never collide with the prefixed form). */
    private val BloomPrefix = "bloom:"
    def bloomKey(c: String): String = BloomPrefix + c

    /** (length, mtime) ride in the stats map under a reserved key —
      * the `:` makes collision with a plain column name impossible for
      * any column the stats writer accepts (same convention as blooms).
      * They make the manifest a COMPLETE scan plan: a reader can build
      * its file index without one filesystem call. */
    val MetaKey = "file:meta"
    def metaStat(len: Long, mtime: Long): (String, (String, String)) =
      MetaKey -> (s"L:$len", s"L:$mtime")

    /** Per-file ROW COUNT (footer-exact at promote) under a reserved
      * key — what answers `COUNT(*)` from the manifest alone. */
    val RowsKey = "file:rows"
    def rowsStat(rows: Long): (String, (String, String)) =
      RowsKey -> (s"L:$rows", "L:0")

    /** Per-column NULL COUNT (footer-exact at promote) under a
      * reserved key prefix (the `:` makes a plain-column collision
      * impossible, same convention as blooms) — together with
      * [[FileEntry.rows]] this answers `count(col)` from the manifest
      * ([[SnapshotTable.metadataColumnCount]]). */
    private val NullsPrefix = "nulls:"
    def nullsKey(c: String): String = NullsPrefix + c
    def nullsStat(c: String, nulls: Long): (String, (String, String)) =
      nullsKey(c) -> (s"L:$nulls", "L:0")

    /** A file's DELETION VECTOR rides the stats map under a reserved
      * key (same convention as `file:meta`/blooms — the `:` makes a
      * column-name collision impossible): sorted row positions,
      * delta-varint packed then base64, with the count as the second
      * value. Point deletes cost a few BYTES of manifest metadata
      * instead of a file rewrite; the encoding is position-exact, so a
      * reader filters on `_metadata.row_index` with no false drops. */
    val DvKey = "file:dv"

    def dvStat(positions: Array[Long]): (String, (String, String)) = {
      val sorted = positions.distinct.sorted
      dvStatAscending(sorted.iterator, sorted.length.toLong)
    }

    /** Encode an ASCENDING de-duplicated position stream (what
      * [[graft.functions.DeleteBitmap.iterator]] yields) without
      * materializing it. */
    def dvStatAscending(ascending: Iterator[Long],
                        count: Long): (String, (String, String)) =
      DvKey -> (encodeDvAscending(ascending), s"L:$count")

    /** The delta-varint + base64 payload alone — the wire form the
      * deleteMoR executors ship their per-file bitmaps to the driver
      * in (same bytes the manifest logs). */
    def encodeDvAscending(ascending: Iterator[Long]): String = {
      val bos = new java.io.ByteArrayOutputStream()
      var prev = 0L
      ascending.foreach { p =>
        var d = p - prev // gaps are non-negative: sorted, first from 0
        prev = p
        while ((d & ~0x7fL) != 0L) {
          bos.write(((d & 0x7f) | 0x80).toInt); d >>>= 7
        }
        bos.write(d.toInt)
      }
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }

    /** Streaming decode of the delta-varint stream — ascending
      * positions, one at a time (what [[graft.functions.DeleteBitmap
      * .fromAscending]] consumes with no intermediate Long array). */
    def dvIterator(encoded: String): Iterator[Long] = {
      val bytes = java.util.Base64.getDecoder.decode(encoded)
      new Iterator[Long] {
        private var i = 0
        private var prev = 0L
        def hasNext: Boolean = i < bytes.length
        def next(): Long = {
          var d = 0L
          var shift = 0
          var b = 0
          while ({ b = bytes(i) & 0xff; i += 1; (b & 0x80) != 0 }) {
            d |= (b & 0x7fL) << shift; shift += 7
          }
          d |= b.toLong << shift
          prev += d
          prev
        }
      }
    }

    def decodeDv(encoded: String): Array[Long] = {
      val out = Array.newBuilder[Long]
      dvIterator(encoded).foreach(out += _)
      out.result()
    }

    def parse(line: String): FileEntry = {
      val parts = line.split("\t", -1)
      val stats = parts.drop(1).grouped(3).collect {
        case Array(c, mn, mx) => c -> (mn, mx)
      }.toMap
      FileEntry(parts.head, stats)
    }

    def encS(s: String): String =
      "S:" + java.net.URLEncoder.encode(s, "UTF-8")

    /** The datetime family ("T:"): MICROSECONDS since the epoch, one
      * unit for DATE (days × 86 400 000 000), TIMESTAMP and
      * TIMESTAMP_NTZ footer stats alike — what keeps a file's stats
      * valid VERBATIM across the date→timestamp_ntz widening (a date's
      * midnight micros ARE its NTZ value). */
    val MicrosPerDay = 86400000000L
    def encMicros(us: Long): String = s"T:$us"

    /** `v × perUnit` micros, SATURATING at ±Long range in the sign
      * direction — a pathological day/millis value beyond year
      * ±292,000 keeps every comparison against in-range values
      * correct (the saturated bound is still on the right side of
      * every representable value), where a silent wrap would prune
      * wrongly. */
    def scaleMicros(v: Long, perUnit: Long): Long = {
      val lim = Long.MaxValue / perUnit
      if (v > lim) Long.MaxValue
      else if (v < -lim) Long.MinValue
      else v * perUnit
    }

    /** The decimal family ("C:"): `<scale>:<unscaled>` — each tagged
      * value carries ITS OWN scale, so bounds and stats written at
      * different scales (decimal precision/scale widening, mixed file
      * vintages) still compare exactly as numbers. */
    def encDecimal(scale: Int, unscaled: java.math.BigInteger): String =
      s"C:$scale:$unscaled"
    def encDecimal(d: java.math.BigDecimal): String =
      encDecimal(d.scale, d.unscaledValue)
    private[graft] def decodeDecimal(payload: String): java.math.BigDecimal = {
      val i = payload.indexOf(':')
      new java.math.BigDecimal(
        new java.math.BigInteger(payload.substring(i + 1)),
        payload.substring(0, i).toInt)
    }

    /** An explicit micros-since-epoch bound for [[enc]] — what
      * [[PredicateBounds]] converts date/timestamp literals into so a
      * raw Int/Long can never be mistaken for a plain number. */
    final case class Micros(us: Long)

    /** Tag a predicate bound the way footer stats are tagged. Accepts
      * the EXTERNAL JVM forms a `df.agg(min/max).head()` yields (both
      * the java.sql and java.time families) plus [[Micros]]. */
    def enc(v: Any): String = v match {
      case n: Long => s"L:$n"
      case n: Int => s"L:$n"
      case n: Short => s"L:$n"
      case n: Byte => s"L:$n"
      case n: Double => s"D:$n"
      case n: Float => s"D:${n.toDouble}"
      case s: String => encS(s)
      case Micros(us) => encMicros(us)
      case d: java.sql.Timestamp => encMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(d))
      case d: java.time.Instant => encMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(d))
      case d: java.time.LocalDateTime => encMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .localDateTimeToMicros(d))
      case d: java.sql.Date => encMicros(scaleMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d),
        MicrosPerDay))
      case d: java.time.LocalDate => encMicros(scaleMicros(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d),
        MicrosPerDay))
      case d: java.math.BigDecimal => encDecimal(d)
      case d: org.apache.spark.sql.types.Decimal =>
        encDecimal(d.toJavaBigDecimal)
      case d: scala.math.BigDecimal => encDecimal(d.bigDecimal)
      case other => throw new IllegalArgumentException(
        s"unsupported stats bound type: ${other.getClass}")
    }

    /** Order tagged values within a tag family (callers guarantee same
      * family — candidateFiles keeps any cross-family file unpruned).
      * String values must be DECODED before comparing: URL-encoding is
      * not order-preserving ('!' encodes to "%21" which sorts before
      * " "'s "+"), so comparing encoded forms would wrongly prune. */
    val valueOrdering: Ordering[String] = Ordering.fromLessThan { (a, b) =>
      (a.splitAt(2), b.splitAt(2)) match {
        case (("L:", x), ("L:", y)) => x.toLong < y.toLong
        case (("D:", x), ("D:", y)) => x.toDouble < y.toDouble
        case (("T:", x), ("T:", y)) => x.toLong < y.toLong
        // scale travels with each value: cross-scale (mixed widening
        // vintages) comparisons are exact numeric comparisons
        case (("C:", x), ("C:", y)) =>
          decodeDecimal(x).compareTo(decodeDecimal(y)) < 0
        case (("S:", x), ("S:", y)) =>
          java.net.URLDecoder.decode(x, "UTF-8") <
            java.net.URLDecoder.decode(y, "UTF-8")
        case _ => a < b
      }
    }
  }
}
