package graft.readers

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.net.URI
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** The Delta transaction log (`<table>/_delta_log`, published Delta
  * protocol) — the one place the engine lists, parses, replays and
  * publishes it. [[DeltaReader]], [[DeltaWriter]] and the `graft-delta`
  * stream all resolve table state through here:
  *
  *  - [[list]]: one listing — the commit jsons with their statuses, the
  *    `_last_checkpoint` hint, head = max(checkpoint, newest commit);
  *  - [[readActions]]: one commit's actions, one JSON node per line;
  *  - [[snapshot]]: the replay — checkpoint (classic, multipart, or v2
  *    with sidecars; pinned reads before the checkpoint replay commits
  *    only, checkpoint state can't be rolled back) then the gap-free
  *    commit chain — into ONE immutable [[Snapshot]], cached per
  *    (table, pin, cap) and validated by a status-only log-tail probe,
  *    with incremental replay of add/remove-only commits;
  *  - [[publish]]: the commit write, atomic create-no-overwrite (the
  *    primitive delta-spark's HDFS LogStore uses): a rival that took
  *    the version collides here and the caller re-runs its attempt;
  *  - [[writeCheckpoint]]: the classic checkpoint + `_last_checkpoint`.
  *
  * The snapshot is ungated: the reader applies its profile gates at
  * read time, the writer its own — one replay serves both.
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  /** The protocol a log without a protocol action implies. */
  private val DefaultProtocol = """{"minReaderVersion":1,"minWriterVersion":2}"""

  def logDir(table: String): Path = new Path(table.stripSuffix("/") + "/_delta_log")
  def fs(spark: SparkSession, table: String): FileSystem =
    FileSystem.get(new URI(table).resolve("/"), spark.sparkContext.hadoopConfiguration)
  def exists(spark: SparkSession, table: String): Boolean = fs(spark, table).exists(logDir(table))
  private def requireTable(f: FileSystem, table: String): Unit =
    require(f.exists(logDir(table)), s"not a delta table (no _delta_log): $table")
  private def commitName(v: Long): String = f"$v%020d.json"
  private val CommitName = "\\d{20}\\.json".r
  private val LastCheckpoint = "_last_checkpoint"

  /** Absent or null `dataChange` means true (the protocol's default). */
  def dataChange(action: JsonNode): Boolean =
    Option(action.get("dataChange")).forall(n => n.isNull || n.asBoolean())

  private def nonNull(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  // ---- listing --------------------------------------------------------

  final case class Commit(version: Long, status: FileStatus)

  /** One listing of `_delta_log`. */
  final case class Listing(table: String, fs: FileSystem, dir: Path,
      statuses: Seq[FileStatus], lastCheckpoint: Option[JsonNode]) {
    /** Commit jsons, ascending by version. */
    val commits: Vector[Commit] = statuses.iterator
      .filter(st => CommitName.matches(st.getPath.getName))
      .map(st => Commit(st.getPath.getName.stripSuffix(".json").toLong, st))
      .toVector.sortBy(_.version)
    val names: Set[String] = statuses.map(_.getPath.getName).toSet
    val checkpointVersion: Long = lastCheckpoint.map(_.get("version").asLong()).getOrElse(-1L)
    val tail: Long = commits.lastOption.map(_.version).getOrElse(-1L)
    val head: Long = math.max(checkpointVersion, tail)
    def requireHead: Long = {
      require(head >= 0, s"delta: empty _delta_log at $dir")
      head
    }
    /** Commits in (since, end], refusing when the cleaned log lost any
      * of them — `what` names the refused read. */
    def window(since: Long, end: Long, what: String): Vector[Commit] = {
      val w = commits.filter(c => c.version > since && c.version <= end)
      val missing = ((math.max(since, -1L) + 1) to end).toSet -- w.map(_.version).toSet
      require(missing.isEmpty,
        s"delta: cannot serve $what since $since — commit json(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} missing from _delta_log (expired/cleaned log); " +
          "re-baseline with a full read")
      w
    }
    /** (mtime, length) of the file naming this listing's head: the
      * newest commit json, or `_last_checkpoint` for a commit-free log. */
    def anchor: (Long, Long) = commits.lastOption.map(_.status)
      .orElse(statuses.find(_.getPath.getName == LastCheckpoint))
      .map(st => (st.getModificationTime, st.getLen)).getOrElse((-1L, -1L))
  }

  def list(spark: SparkSession, table: String): Listing = {
    val f = fs(spark, table)
    requireTable(f, table)
    val dir = logDir(table)
    val statuses = f.listStatus(dir).toSeq
    val lastCp =
      if (!statuses.exists(_.getPath.getName == LastCheckpoint)) None
      else {
        val in = f.open(new Path(dir, LastCheckpoint))
        try Some(mapper.readTree(in)) finally in.close()
      }
    Listing(table, f, dir, statuses, lastCp)
  }

  /** The actions of one commit (or v2 json checkpoint) file. */
  def readActions(f: FileSystem, p: Path): Seq[JsonNode] = {
    val in = f.open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map(mapper.readTree).toSeq
  }

  /** The status of commit `v`'s json, if it is still in the log. */
  def commitStatus(spark: SparkSession, table: String, v: Long): Option[FileStatus] =
    scala.util.Try(fs(spark, table).getFileStatus(new Path(logDir(table), commitName(v)))).toOption

  def commitActions(spark: SparkSession, table: String, v: Long): Option[Seq[JsonNode]] =
    commitStatus(spark, table, v).map(st => readActions(fs(spark, table), st.getPath))

  /** A commit's clock: its `commitInfo.timestamp`, else the file's
    * modification time (the clock `timestampAsOf` reads). */
  def commitTimestamp(c: Commit, actions: Seq[JsonNode]): Long =
    actions.flatMap(a => nonNull(a, "commitInfo").flatMap(nonNull(_, "timestamp")))
      .lastOption.map(_.asLong()).getOrElse(c.status.getModificationTime)

  // ---- snapshot -------------------------------------------------------

  /** One live add. `raw` is the add action as logged minus `stats`
    * (held once, in `stats`), so a checkpoint re-emits it verbatim. */
  final case class AddFile(path: String, partitionValues: Map[String, Option[String]],
      size: Long, stats: Option[String], dvJson: Option[String], raw: String) {
    def hasDv: Boolean = dvJson.isDefined
    def dv: Option[DeltaReader.DvDescriptor] = dvJson.map { j =>
      val d = mapper.readTree(j)
      DeltaReader.DvDescriptor(d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
        nonNull(d, "offset").map(_.asInt()).getOrElse(0),
        d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
    }
    /** Physical row count from add.stats, if recorded. */
    def numRecords: Option[Long] = stats.flatMap(s => scala.util.Try(
      Option(mapper.readTree(s).get("numRecords")).map(_.asLong())).toOption.flatten)
    /** The add action line, stats restored. */
    def actionJson: String = {
      val n = mapper.readTree(raw).asInstanceOf[ObjectNode]
      stats.foreach(n.put("stats", _))
      s"""{"add":$n}"""
    }
  }

  /** The table state at one version: live adds in log order, the last
    * `metaData` (raw, plus its schema and partitioning), the last
    * `protocol`, the last `txn` per appId, and which checkpoint
    * (`none` | `classic` | `multipart` | `v2`) the replay started from.
    * Immutable once built; shared across queries and writers. */
  final case class Snapshot(version: Long, liveFiles: Vector[AddFile], metaJson: String,
      schemaJson: String, partitionCols: Seq[String], protocolJson: String,
      txns: Map[String, String], checkpointVersion: Long, checkpointKind: String) {
    def live: Seq[String] = liveFiles.map(_.path)
    lazy val schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    /** Logical column → the name data files carry (column mapping's
      * `physicalName` field metadata, else the logical name). */
    lazy val physicalNames: Map[String, String] = schema.fields.map { fl =>
      fl.name -> (if (fl.metadata.contains("delta.columnMapping.physicalName"))
        fl.metadata.getString("delta.columnMapping.physicalName") else fl.name)
    }.toMap
    private lazy val meta: JsonNode = mapper.readTree(metaJson)
    lazy val configuration: Map[String, String] = nonNull(meta, "configuration")
      .map(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
    def provider: String =
      nonNull(meta, "format").flatMap(nonNull(_, "provider")).map(_.asText()).getOrElse("parquet")
    lazy val protocol: JsonNode = mapper.readTree(protocolJson)
    def minReaderVersion: Int = nonNull(protocol, "minReaderVersion").map(_.asInt()).getOrElse(1)
    def minWriterVersion: Int = nonNull(protocol, "minWriterVersion").map(_.asInt()).getOrElse(2)
    def mappingMode: String = configuration.getOrElse("delta.columnMapping.mode", "none")
    private def flag(key: String): Boolean = configuration.get(key).exists(_.equalsIgnoreCase("true"))
    def cdfEnabled: Boolean = flag("delta.enableChangeDataFeed")
    def dvEnabled: Boolean = flag("delta.enableDeletionVectors")
    def appendOnly: Boolean = flag("delta.appendOnly")
    /** CHECK constraints (`delta.constraints.<name>` → expr SQL). */
    def constraints: Map[String, String] = configuration.collect {
      case (k, v) if k.toLowerCase.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }
    /** The last txn version committed for `appId`, or -1. */
    def txnVersion(appId: String): Long =
      txns.get(appId).map(t => mapper.readTree(t).get("version").asLong()).getOrElse(-1L)
  }

  private def capMessage(maxLiveFiles: Int): String =
    s"delta: table has more than $maxLiveFiles live files — beyond this native reader's " +
      "driver-state bound; read it with the delta-spark connector jar on the classpath"

  /** The mutable fold behind [[Snapshot]], shared by the full and the
    * incremental replay so their action semantics cannot drift. */
  private final class Replay(maxLiveFiles: Int) {
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    var metaJson: String = null
    var schemaJson: String = null
    var partitionCols: Seq[String] = Nil
    var protocolJson: String = DefaultProtocol
    val txns = scala.collection.mutable.LinkedHashMap[String, String]()

    def seed(s: Snapshot): this.type = {
      live ++= s.liveFiles.map(a => a.path -> a)
      metaJson = s.metaJson; schemaJson = s.schemaJson; partitionCols = s.partitionCols
      protocolJson = s.protocolJson; txns ++= s.txns
      this
    }
    def metaData(m: JsonNode): Unit = {
      schemaJson = Option(m.get("schemaString")).map(_.asText()).getOrElse(schemaJson)
      partitionCols = Option(m.get("partitionColumns"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(partitionCols)
      metaJson = m.toString
    }
    def add(n: JsonNode): Unit = {
      val path = n.get("path").asText()
      val pv = Option(n.get("partitionValues")).map(_.properties().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))).toMap)
        .getOrElse(Map.empty[String, Option[String]])
      val stats = nonNull(n, "stats").map(_.asText()).filter(_.nonEmpty)
      // the node is this replay's own parse: drop stats in place
      n.asInstanceOf[ObjectNode].remove("stats")
      live(path) = AddFile(path, pv, nonNull(n, "size").map(_.asLong()).getOrElse(0L),
        stats, nonNull(n, "deletionVector").map(_.toString), n.toString)
      // checked on insert so peak driver memory is bounded by the cap,
      // not by however many adds a hostile/huge log contains
      require(live.size <= maxLiveFiles, capMessage(maxLiveFiles))
    }
    /** Apply one action; a checkpoint's removes are retention
      * tombstones, never live state. */
    def action(a: JsonNode, inCheckpoint: Boolean = false): Unit = {
      nonNull(a, "metaData").foreach(metaData)
      nonNull(a, "protocol").foreach(p => protocolJson = p.toString)
      nonNull(a, "txn").foreach(t => txns(t.get("appId").asText()) = t.toString)
      nonNull(a, "add").foreach(add)
      if (!inCheckpoint) nonNull(a, "remove").foreach(rm => live.remove(rm.get("path").asText()))
    }
    def result(version: Long, cpVersion: Long, cpKind: String): Snapshot = {
      require(schemaJson != null, s"delta: no metaData action found in the log")
      Snapshot(version, live.values.toVector, metaJson, schemaJson, partitionCols,
        protocolJson, txns.toMap, cpVersion, cpKind)
    }
  }

  /** Full replay to the pinned (or latest) version. */
  private def replay(spark: SparkSession, ls: Listing, versionAsOf: Option[Long],
      maxLiveFiles: Int): Snapshot = {
    val dir = ls.dir.toString
    val (cpVersion, cpKind, cpFiles): (Long, String, Seq[String]) = ls.lastCheckpoint match {
      case None => (-1L, "none", Nil)
      case Some(node) =>
        val v = node.get("version").asLong()
        if (versionAsOf.exists(_ < v)) (-1L, "none", Nil) // pinned before the checkpoint
        else Option(node.get("parts")).map(_.asInt()) match {
          case Some(n) =>
            // multipart classic: EVERY part or refuse — replaying a
            // subset silently truncates the live-file set
            val all = (1 to n).map(i => f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")
            val missing = all.filterNot(ls.names.contains).map(p => s"$dir/$p")
            require(missing.isEmpty,
              s"delta: multipart checkpoint $v incomplete — missing ${missing.mkString(", ")}")
            (v, "multipart", all.map(p => s"$dir/$p"))
          case None =>
            val classic = f"$v%020d.checkpoint.parquet"
            if (ls.names.contains(classic)) (v, "classic", Seq(s"$dir/$classic"))
            else {
              // v2 checkpoints (PROTOCOL.md "V2 Checkpoint Table Feature")
              // are UUID-named — <version>.checkpoint.<uuid>.{json,parquet}
              // — and may park their file actions in _sidecars. Match the
              // uuid shape ONLY, so a stray multipart part can't be
              // mistaken for a complete checkpoint.
              val uuidName = (f"$v%020d" + "\\.checkpoint\\.[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\\.(parquet|json)").r
              val v2 = ls.statuses.map(_.getPath).filter(p => uuidName.matches(p.getName)).map(_.toString)
              require(v2.nonEmpty,
                s"delta: _last_checkpoint names version $v but no classic or v2 checkpoint file matches in $dir")
              (v, "v2", v2.take(1))
            }
        }
    }
    versionAsOf.foreach { v =>
      require(cpVersion == v || ls.commits.exists(_.version == v),
        s"delta: version $v does not exist at ${ls.table} — not present in _delta_log " +
          "(vacuumed or never written)")
    }
    val commits = ls.commits.filter(c => c.version > cpVersion && versionAsOf.forall(c.version <= _))
    require(cpVersion >= 0 || commits.nonEmpty, s"delta: empty _delta_log at $dir")
    // the replayed chain must be gap-free from the checkpoint (or 0) to
    // the target — a vacuumed or partially-listed log otherwise yields a
    // silently incomplete live-file set
    val versionsSeen = commits.map(_.version)
    val target = versionAsOf.getOrElse(versionsSeen.lastOption.getOrElse(cpVersion))
    val expected = ((cpVersion + 1) to target).toSeq
    require(versionsSeen == expected,
      s"delta: commit chain incomplete — have [${versionsSeen.mkString(",")}], need [${expected.mkString(",")}] (expired log or partial listing)")

    val r = new Replay(maxLiveFiles)
    if (cpFiles.nonEmpty) {
      val sidecars = Seq.newBuilder[String]
      def sidecar(n: JsonNode): Unit = {
        val p = n.get("path").asText()
        sidecars += (if (p.contains("://") || p.startsWith("/")) p else s"$dir/_sidecars/$p")
      }
      if (cpFiles.forall(_.endsWith(".json")))
        // v2 json manifest: one action per line, like a commit file
        cpFiles.foreach(p => readActions(ls.fs, new Path(p)).foreach { a =>
          r.action(a, inCheckpoint = true)
          nonNull(a, "sidecar").foreach(sidecar)
        })
      else {
        val cp = spark.read.parquet(cpFiles: _*)
        val cols = cp.columns.toSet
        def rows(c: String): Seq[JsonNode] =
          cp.where(col(c).isNotNull).select(to_json(col(c))).collect().toSeq
            .map(row => mapper.readTree(row.getString(0)))
        if (cols.contains("metaData")) rows("metaData").foreach(r.metaData)
        if (cols.contains("protocol")) rows("protocol").foreach(p => r.protocolJson = p.toString)
        if (cols.contains("txn")) rows("txn").foreach(t => r.txns(t.get("appId").asText()) = t.toString)
        if (cols.contains("add")) {
          // count BEFORE collect: the cap must bound peak driver memory,
          // not fire after a 50M-add checkpoint has already materialized
          val n = cp.where(col("add").isNotNull).count()
          require(n <= maxLiveFiles,
            s"delta: checkpoint lists $n add actions, more than $maxLiveFiles — beyond this " +
              "native reader's driver-state bound; read it with the delta-spark connector jar on the classpath")
          rows("add").foreach(r.add)
        }
        if (cols.contains("sidecar")) rows("sidecar").foreach(sidecar)
      }
      // v2 sidecar parquets hold the checkpoint's file actions
      val sc = sidecars.result()
      if (sc.nonEmpty) {
        val df = spark.read.parquet(sc: _*)
        if (df.columns.contains("add")) {
          val adds = df.where(col("add").isNotNull)
          val n = adds.count()
          require(n <= maxLiveFiles,
            s"delta: checkpoint sidecars list $n add actions, more than $maxLiveFiles — beyond this " +
              "native reader's driver-state bound; read it with the delta-spark connector jar on the classpath")
          adds.select(to_json(col("add"))).collect()
            .foreach(row => r.add(mapper.readTree(row.getString(0))))
        }
      }
    }
    commits.foreach(c => readActions(ls.fs, c.status.getPath).foreach(r.action(_)))
    r.result(target, cpVersion, cpKind)
  }

  // Snapshot cache (repeated queries over a deferred view, and every
  // write attempt, must not pay the full O(files) checkpoint + commit
  // replay). Keyed by (table, version pin, cap); an UNPINNED entry is
  // validated by a cheap log-tail probe — one listStatus of _delta_log
  // plus the tiny _last_checkpoint read — so live-snapshot semantics is
  // preserved: a new commit bumps the tail version and forces a fresh
  // replay, while an unchanged table replays nothing (commit bodies and
  // checkpoint parquet are immutable once written, so re-parsing them
  // could only reproduce the cached state). Bounded by TOTAL cached
  // live-file entries (the same order of driver state as ONE maximal
  // read — a per-table-count bound would multiply the documented
  // maxLiveFiles residency by the table count), LRU eviction.
  /** Cache-validation token. Version numbers alone are NOT identity:
    * Delta commit filenames are pure version counters, so a table
    * deleted and regenerated at the same path with the same commit
    * count reproduces (cpVersion, tailVersion) exactly. The ANCHOR
    * file's modificationTime + length (the tail commit json, or
    * `_last_checkpoint` for a commit-free log) come from the listing
    * the probe already runs — zero extra IO — and a regenerated log
    * rewrites that file, so the token changes. Pinned (versionAsOf)
    * entries carry the same anchor (cpVersion slot = -2): their
    * replayed state is immutable only while the TABLE is the same
    * table, so a hit validates the pinned commit file's current status
    * too. */
  private case class ProbeToken(cpVersion: Long, tailVersion: Long,
      anchorMtime: Long, anchorLen: Long)

  private val CacheMaxEntries: Long = DeltaReader.DefaultMaxLiveFiles.toLong
  private val cache = new java.util.LinkedHashMap[
      (String, Option[Long], Int), (ProbeToken, Snapshot)](16, 0.75f, true)
  private var cacheEntries = 0L // guarded by cache's lock
  private def cacheGet(key: (String, Option[Long], Int)): Option[(ProbeToken, Snapshot)] =
    cache.synchronized(Option(cache.get(key)))
  private def cachePut(key: (String, Option[Long], Int),
      value: (ProbeToken, Snapshot)): Unit = cache.synchronized {
    if (value._2.liveFiles.length <= CacheMaxEntries) {
      Option(cache.put(key, value)).foreach(old => cacheEntries -= old._2.liveFiles.length)
      cacheEntries += value._2.liveFiles.length
      val it = cache.entrySet().iterator()
      while (cacheEntries > CacheMaxEntries && it.hasNext) {
        val e = it.next(); cacheEntries -= e.getValue._2.liveFiles.length; it.remove()
      }
    }
  }

  /** (mtime, length) of the file that anchors a token's identity, or
    * (-1, -1) when it does not exist. */
  private def anchorStatus(f: FileSystem, p: Path): (Long, Long) =
    scala.util.Try {
      val st = f.getFileStatus(p); (st.getModificationTime, st.getLen)
    }.getOrElse((-1L, -1L))

  /** The table's snapshot at `versionAsOf` (or its head), from the
    * cache when the log-tail probe shows nothing new. */
  def snapshot(spark: SparkSession, table: String, versionAsOf: Option[Long] = None,
      maxLiveFiles: Int = DeltaReader.DefaultMaxLiveFiles): Snapshot = versionAsOf match {
    // pinned per planning pass: sibling legs of one query resolve the
    // same listing, so they share one cache entry (one snapshot) even
    // if a writer commits mid-planning
    case None => headOf(spark, graft.plans.SnapshotPin.pin(s"delta:$table")(list(spark, table)),
      maxLiveFiles)
    // a pinned version's replayed state is immutable, but only while
    // the table IS that table — anchor on the pinned commit file (or
    // `_last_checkpoint` when the json was vacuumed into a checkpoint)
    // so a regenerate-in-place at the same path misses
    case Some(v) =>
      val probe = graft.plans.SnapshotPin.pin(s"delta-pin:$table:$v") {
        val f = fs(spark, table)
        requireTable(f, table)
        val commitP = new Path(logDir(table), commitName(v))
        val (m, l) =
          if (f.exists(commitP)) anchorStatus(f, commitP)
          else anchorStatus(f, new Path(logDir(table), LastCheckpoint))
        ProbeToken(-2L, v, m, l)
      }
      cached((table, versionAsOf, maxLiveFiles), probe)(_ => None)(
        replay(spark, list(spark, table), versionAsOf, maxLiveFiles))
  }

  /** The head snapshot, or None before the table's first commit. */
  def latest(spark: SparkSession, table: String): Option[Snapshot] =
    if (!exists(spark, table)) None
    else Some(list(spark, table)).filter(_.head >= 0)
      .map(headOf(spark, _, DeltaReader.DefaultMaxLiveFiles))

  /** The head snapshot as of listing `ls` (the probe itself). */
  private def headOf(spark: SparkSession, ls: Listing, maxLiveFiles: Int): Snapshot = {
    val (m, l) = ls.anchor
    val probe = ProbeToken(ls.checkpointVersion, ls.tail, m, l)
    cached((ls.table, None, maxLiveFiles), probe) { case (tok, old) =>
      // a stale entry first tries INCREMENTAL replay: apply only the
      // commits past the cached head instead of re-reading the
      // checkpoint parquet (a Spark job at large file counts) and the
      // whole commit chain per new commit
      incremental(ls.fs, ls.dir, old, tok, probe, maxLiveFiles)
    }(replay(spark, ls, None, maxLiveFiles))
  }

  private def cached(key: (String, Option[Long], Int), probe: ProbeToken)(
      incr: ((ProbeToken, Snapshot)) => Option[Snapshot])(full: => Snapshot): Snapshot =
    cacheGet(key) match {
      case Some((tok, st)) if tok == probe => st
      case stale =>
        val st = stale.flatMap(incr).getOrElse(full)
        cachePut(key, (probe, st))
        st
    }

  /** Incremental replay: apply commits (cached head, new tail] on top
    * of a cached snapshot. ONLY add/remove/txn actions apply
    * incrementally — a commit carrying metaData or protocol changes the
    * schema/profile surface, so it returns None and the caller falls
    * back to the full path (rare events: schema evolution, feature
    * enablement); so does a new checkpoint, whose kind the cached
    * snapshot cannot state. None likewise on any missing commit in the
    * window or other surprise — fail open to the full replay, never
    * guess.
    *
    * Prefix guard: chaining is sound only if the cached snapshot's OWN
    * history is still the table's history. A table regenerated in
    * place with MORE commits than the cached tail would otherwise
    * chain the new tail onto a dead table's state — so the cached
    * token's anchor file (tail commit json, or `_last_checkpoint` for
    * a checkpoint-only state) must still exist with the same
    * mtime+length, else fall back to the full replay. */
  private def incremental(f: FileSystem, dir: Path, cached: Snapshot, cachedTok: ProbeToken,
      probe: ProbeToken, maxLiveFiles: Int): Option[Snapshot] = scala.util.Try {
    // a checkpoint-only state (no commit jsons at read time) has tail
    // -1 but IS the state at the checkpoint version — later commits
    // chain from max(checkpoint, tail), which is the snapshot version
    if (probe.tailVersion <= cached.version || probe.cpVersion != cachedTok.cpVersion) return None
    val anchorP =
      if (cachedTok.tailVersion >= 0) new Path(dir, commitName(cachedTok.tailVersion))
      else new Path(dir, LastCheckpoint)
    if (anchorStatus(f, anchorP) != ((cachedTok.anchorMtime, cachedTok.anchorLen))) return None
    val r = new Replay(maxLiveFiles).seed(cached)
    for (v <- (cached.version + 1) to probe.tailVersion) {
      val p = new Path(dir, commitName(v))
      if (!f.exists(p)) return None // gap: let the full replay diagnose
      readActions(f, p).foreach { a =>
        if (a.has("metaData") || a.has("protocol")) return None
        r.action(a)
      }
    }
    Some(r.result(probe.tailVersion, cached.checkpointVersion, cached.checkpointKind))
  }.toOption.flatten

  // ---- writes ---------------------------------------------------------

  /** Publish commit `version` with atomic create-no-overwrite; a
    * failure means a rival took the version (or the store refused). */
  def publish(spark: SparkSession, table: String, version: Long,
      lines: Seq[String]): scala.util.Try[Unit] = scala.util.Try {
    val f = fs(spark, table)
    if (version == 0L) f.mkdirs(logDir(table))
    val out = f.create(new Path(logDir(table), commitName(version)), /* overwrite = */ false)
    try out.write((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Delete the commit jsons at or below `upTo` last modified before
    * `cutoffMs` (unless `dryRun`); returns their names, oldest first. */
  def expireCommits(spark: SparkSession, table: String, upTo: Long, cutoffMs: Long,
      dryRun: Boolean): Seq[String] = {
    val ls = list(spark, table)
    val victims = ls.commits.filter(c => c.version <= upTo && c.status.getModificationTime < cutoffMs)
    if (!dryRun) victims.foreach(c => ls.fs.delete(c.status.getPath, false))
    victims.map(_.status.getPath.getName)
  }

  /** Write a classic checkpoint of `snap`: one parquet file holding the
    * protocol, metaData, txn and live add actions — round-tripped
    * through `spark.read.json`, the struct layout [[replay]] consumes —
    * then the `_last_checkpoint` pointer. */
  def writeCheckpoint(spark: SparkSession, table: String, snap: Snapshot): Unit = {
    val f = fs(spark, table)
    val lines = Seq(s"""{"protocol":${snap.protocolJson}}""", s"""{"metaData":${snap.metaJson}}""") ++
      snap.txns.values.map(t => s"""{"txn":$t}""") ++ snap.liveFiles.map(_.actionJson)
    import spark.implicits._
    val staged = new Path(table.stripSuffix("/") + s"/_staging_cp_${java.util.UUID.randomUUID()}")
    try {
      spark.read.json(lines.toDS()).coalesce(1).write.mode("overwrite").parquet(staged.toString)
      val part = f.listStatus(staged).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val cpPath = new Path(logDir(table), f"${snap.version}%020d.checkpoint.parquet")
      require(f.rename(part, cpPath) || f.exists(cpPath),
        s"delta writer: publishing checkpoint $cpPath failed")
      val lc = f.create(new Path(logDir(table), LastCheckpoint), true)
      try lc.write(s"""{"version":${snap.version},"size":${lines.size}}""".getBytes(StandardCharsets.UTF_8))
      finally lc.close()
    } finally scala.util.Try(f.delete(staged, true))
  }
}
