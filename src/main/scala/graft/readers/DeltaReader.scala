package graft.readers

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.datatypes.DataRef
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Native Delta Lake table reader (published Delta transaction-log
  * protocol; reference readers.py:1108 `scan_delta` / the delta-rs
  * family). Reads a table directory WITHOUT the delta-spark connector
  * jar:
  *
  *  1. [[DeltaLog.snapshot]] — the one log module the writer and the
  *     `graft-delta` stream share — lists `_delta_log`, replays the
  *     checkpoint (classic, multipart or v2) and the commits after it
  *     into a cached snapshot: live adds, the last `metaData` and
  *     `protocol`;
  *  2. this reader applies its profile gates (below) to that snapshot
  *     at read time — the snapshot itself is ungated, so the writer
  *     replays nothing of its own;
  *  3. partition values come from each file's `add.partitionValues`
  *     (Delta data files do NOT store partition columns), attached as
  *     literal columns cast to the schema's types, one read per
  *     distinct partition tuple, unioned by name;
  *  4. the final scan is a plain distributed parquet read.
  *
  * Stated profile: parquet tables with `minReaderVersion` 1, or 2/3
  * with reader features limited to timestampNtz/v2Checkpoint/
  * deletionVectors/columnMapping — anything else refuses loudly
  * (misreading an unknown gating feature silently corrupts results).
  * Column mapping ('name'/'id'): data files carry physical column
  * names (logical names live in the schema's
  * `delta.columnMapping.physicalName` field metadata), so the scan
  * uses the physical schema and renames back, nested fields via a
  * positional struct cast; `add.partitionValues` keys are physical.
  * Deletion vectors (PROTOCOL.md "Deletion Vectors") are applied: each
  * descriptor's roaring64 bitmap is decoded ON EXECUTORS (z85 inline,
  * or a `u`/`p` file blob with magic + CRC-32 + cardinality checks) into
  * `(file, row_index)` pairs that anti-join the scan's
  * `_metadata.file_path/row_index` — the Iceberg position-delete mold.
  * Time travel: `versionAsOf` replays the log only
  * through the pinned commit (and skips a later checkpoint — checkpoint
  * state can't be rolled back). With the connector jar present the
  * gated `spark_delta` FormatReader outranks this reader in the
  * registry.
  *
  * Scale shape: the driver replays only log metadata (JSON lines and a
  * checkpoint read that projects just the action columns); data files
  * never pass through the driver and the parquet scan keeps
  * pushdown/pruning. Driver state is O(live files) — one snapshot entry
  * per live add (path, partition values, stats, DV descriptor and the
  * add as logged, a few hundred bytes), shared by every reader and
  * writer call on the table — and is EXPLICITLY capped at
  * [[DefaultMaxLiveFiles]] (default 4M): the replay refuses loudly past
  * the cap instead of exhausting driver heap, naming the delta-spark
  * connector as the path for bigger tables. Repeated reads of an
  * unchanged table replay nothing (a status-only log-tail probe
  * validates the cached snapshot); new add/remove-only commits replay
  * incrementally.
  */
object DeltaReader {

  /** Default hard cap on replayed live-file entries (see scale shape
    * above). A `read(maxLiveFiles = ...)` parameter rather than mutable
    * global state: specs exercising the refusal pass a small value, and
    * concurrent reads in one JVM can't race each other's caps. The
    * writer reads its head snapshot under this default. */
  val DefaultMaxLiveFiles: Int = 4_000_000

  // private[readers]: IcebergReader reuses the descriptor + decode for
  // v3 puffin deletion vectors (the serializations are identical by
  // design of the Iceberg v3 spec)
  private[readers] case class DvDescriptor(storageType: String, pathOrInlineDv: String,
      offset: Int, sizeInBytes: Int, cardinality: Long)

  // ---- deletion vectors (delta PROTOCOL.md "Deletion Vectors") --------

  private[readers] val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val z85Rev: Array[Int] = {
    val r = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => r(c.toInt) = i }
    r
  }

  /** ZeroMQ Z85 decode (5 chars → 4 bytes, big-endian base 85). */
  private[readers] def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85: length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var k = 0
      while (k < 5) {
        val c = s.charAt(i + k).toInt
        val d = if (c < 128) z85Rev(c) else -1
        require(d >= 0, s"z85: invalid character '${s.charAt(i + k)}'")
        v = v * 85 + d
        k += 1
      }
      val o = i / 5 * 4
      out(o) = (v >> 24).toByte; out(o + 1) = (v >> 16).toByte
      out(o + 2) = (v >> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  /** DV file path for a "u" descriptor: `[<prefix>]<z85 uuid (20 ch)>` →
    * `<table>/[<prefix>/]deletion_vector_<uuid>.bin`. */
  private[readers] def dvPath(table: String, pathOrInlineDv: String): String = {
    val prefix = pathOrInlineDv.dropRight(20)
    val uuidBytes = z85Decode(pathOrInlineDv.takeRight(20))
    val bb = java.nio.ByteBuffer.wrap(uuidBytes)
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val dir = if (prefix.isEmpty) table.stripSuffix("/") else s"${table.stripSuffix("/")}/$prefix"
    s"$dir/deletion_vector_$uuid.bin"
  }

  /** Decode one DV blob into deleted row indexes. Three independent
    * integrity gates — the 1681511377 magic, the trailing CRC-32 of the
    * data, and the descriptor's cardinality — make a misparse refuse
    * loudly instead of silently resurrecting or over-deleting rows. */
  private[readers] def decodeDvData(data: Array[Byte], cardinality: Long): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt(0)
    require(magic == 1681511377, s"delta dv: bad magic $magic")
    val nBitmaps = bb.getLong(4)
    require(nBitmaps >= 0 && nBitmaps < Int.MaxValue, s"delta dv: implausible bitmap count $nBitmaps")
    val out = Array.newBuilder[Long]
    var pos = 12
    var i = 0L
    while (i < nBitmaps) {
      val key = bb.getInt(pos); pos += 4 // bitmap index = high 32 bits
      // one walker both decodes and sizes the bitmap — no second
      // re-implementation of the container layout to drift from
      val (values, consumed) = LanceReader.parseRoaringSized(data, pos)
      pos += consumed
      values.foreach(v => out += ((key.toLong << 32) | (v.toLong & 0xffffffffL)))
      i += 1
    }
    val result = out.result()
    require(result.length.toLong == cardinality,
      s"delta dv: decoded ${result.length} rows, descriptor says $cardinality — refusing a misparsed vector")
    result
  }

  /** Resolve a descriptor to its deleted row indexes (executor-side). */
  private[readers] def dvRows(table: String, d: DvDescriptor, conf: Configuration): Array[Long] = d.storageType match {
    case "i" => // inline: z85 payload IS the data (magic + bitmaps)
      decodeDvData(z85Decode(d.pathOrInlineDv), d.cardinality)
    case "u" | "p" =>
      val path = if (d.storageType == "p") d.pathOrInlineDv else dvPath(table, d.pathOrInlineDv)
      val f = FileSystem.get(new URI(path).resolve("/"), conf)
      val in = f.open(new Path(path))
      try {
        val szBuf = new Array[Byte](4)
        in.readFully(d.offset.toLong, szBuf)
        val size = java.nio.ByteBuffer.wrap(szBuf).getInt // big-endian
        require(size > 0 && size <= d.sizeInBytes + 8,
          s"delta dv: blob size $size inconsistent with descriptor ${d.sizeInBytes}")
        val data = new Array[Byte](size)
        in.readFully(d.offset.toLong + 4, data)
        val crcBuf = new Array[Byte](4)
        in.readFully(d.offset.toLong + 4 + size, crcBuf)
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        val expected = java.nio.ByteBuffer.wrap(crcBuf).getInt.toLong & 0xffffffffL
        require(crc.getValue == expected,
          f"delta dv: CRC mismatch (computed ${crc.getValue}%08x, stored $expected%08x)")
        decodeDvData(data, d.cardinality)
      } finally in.close()
    case other => throw new UnsupportedOperationException(s"delta dv storage type '$other'")
  }

  /** Read the latest version, or a pinned one (time travel — the
    * reference's `scan_delta(version=N)`).
    *
    * `maxPartitionScans` bounds the one-scan-per-partition-tuple plan:
    * below it, each distinct tuple gets its own scan with partition
    * values as literals (Catalyst constant-folds partition filters into
    * whole-scan pruning — spec-pinned); above it, ONE scan covers every
    * file and partition values attach via a broadcast (file → values)
    * join keyed on `_metadata.file_path`, keeping plan size O(1) at any
    * partition cardinality.
    *
    * `filter` (optional ANSI SQL boolean over the table's columns) is
    * the 100 TB lever: the live-file list is pruned BEFORE any data
    * file is opened — exactly on `add.partitionValues` (both partition
    * paths, including >`maxPartitionScans` where Catalyst can no longer
    * see per-scan literals) and conservatively on `add.stats` min/max —
    * and the full filter is re-applied to the returned DataFrame, so
    * the result always equals `read(...).where(filter)`. */
  def read(spark: SparkSession, table: String, versionAsOf: Option[Long] = None,
      maxPartitionScans: Int = 64, filter: Option[String] = None,
      maxLiveFiles: Int = DefaultMaxLiveFiles): DataFrame = {
    readImpl(spark, table, versionAsOf, maxPartitionScans, filter, maxLiveFiles)
  }

  /** Deferred-scan frame over the table: file skipping fires
    * automatically from whatever filters the QUERY puts above it — a
    * `.where()`, `spark.sql` over a temp view, `Catalog.sql` — with no
    * filter string threaded by hand (reference convert.py:390-399
    * semantics; see [[graft.plans.DeferredScan]] for the mechanism and
    * the correctness stance). The table is validated eagerly; each
    * query then plans against the CURRENT snapshot unless pinned. */
  def table(spark: SparkSession, table: String, versionAsOf: Option[Long] = None,
      timestampMs: Option[Long] = None, maxPartitionScans: Int = 64,
      maxLiveFiles: Int = DefaultMaxLiveFiles): DataFrame = {
    def run(filterSql: Option[String], schemaOnly: Boolean): DataFrame = timestampMs match {
      case Some(ts) => readAsOfTimestamp(spark, table, ts, maxPartitionScans, filterSql,
        maxLiveFiles, schemaOnly)
      case None => readImpl(spark, table, versionAsOf, maxPartitionScans, filterSql,
        maxLiveFiles, schemaOnly)
    }
    graft.plans.DeferredScan.frame(spark, s"delta $table",
      () => run(None, schemaOnly = true), fs => run(fs, schemaOnly = false))
  }

  /** Incremental batch read (adds-only CDF-lite; VERDICT r10 #2): the
    * rows of every data file ADDED in commits (sinceVersion, head] that
    * is STILL LIVE at head, each tagged `_commit_version` (the commit
    * that last added its file) and `_commit_timestamp` (that commit's
    * `commitInfo.timestamp`, falling back to the commit file's
    * modification time — the same clock `timestampAsOf` reads). This
    * serves incremental ETL — "give me what arrived since my last run's
    * version" — without a streaming source and without the connector's
    * CDF feature (which needs writer-side change files this reader
    * could not conjure):
    *
    *  - a file added then REMOVED inside the window never surfaces
    *    (its rows were never visible to any at-or-after-head read);
    *  - a file added BEFORE the window stays out, even if untouched;
    *  - row-level deletes are NOT represented (adds-only): a remove of
    *    an old file emits nothing, matching an append-driven pipeline;
    *  - the window's commit jsons must all be present — a cleaned log
    *    refuses loudly rather than silently skipping arrivals;
    *  - `sinceVersion = -1` means "from the beginning" (every live
    *    file whose add is visible in the log window 0..head).
    *
    * Scale shape: the head state comes from the same snapshot cache /
    * incremental replay as every other read; the window walk reads
    * only the window's commit jsons on the driver; the data scan is
    * the ordinary pruned parquet scan restricted to the new files,
    * with the (file → version) map attached via a broadcast join on
    * `_metadata.file_path` — O(new files) driver state, no shuffle. */
  def readChangesSince(spark: SparkSession, table: String, sinceVersion: Long,
      maxPartitionScans: Int = 64, filter: Option[String] = None,
      maxLiveFiles: Int = DefaultMaxLiveFiles): DataFrame = {
    val ls = DeltaLog.list(spark, table)
    val head = ls.requireHead
    require(sinceVersion <= head,
      s"delta: changes since version $sinceVersion requested but table head is $head")
    if (sinceVersion == head)
      return emptyChangesFrame(spark, table, maxPartitionScans, maxLiveFiles)
    // last add version per path across the window, + per-commit timestamp
    val addVersion = scala.collection.mutable.HashMap[String, (Long, Long)]()
    ls.window(sinceVersion, head, "changes").foreach { c =>
      val v = c.version
      val lines = DeltaLog.readActions(ls.fs, c.status.getPath)
      val commitTs = DeltaLog.commitTimestamp(c, lines)
      // dataChange=false adds are rearrangements (OPTIMIZE/compaction):
      // their rows are OLD rows in new files — surfacing them would
      // duplicate data for an incremental consumer, so they are skipped
      // exactly as the connector's CDF skips dataChange=false commits
      lines.foreach(a => Option(a.get("add")).filterNot(_.isNull)
        .filter(DeltaLog.dataChange)
        .foreach(add => addVersion(add.get("path").asText()) = (v, commitTs)))
      lines.foreach(a => Option(a.get("remove")).filterNot(_.isNull).foreach { rm =>
        val p = rm.get("path").asText()
        if (addVersion.contains(p)) {
          val realDelete = DeltaLog.dataChange(rm)
          // a compaction remove of an IN-WINDOW add moves those arrivals
          // into dataChange=false files this adds-only reader skips —
          // serving the window would silently lose them; refuse loudly
          require(realDelete,
            s"delta: changes since $sinceVersion unservable — file '$p' (added at version " +
              s"${addVersion(p)._1}) was compacted away inside the window (dataChange=false " +
              "remove); its rows moved to files an adds-only read cannot attribute. " +
              "Re-baseline with a full read.")
          addVersion.remove(p) // a real delete: the rows were retracted before head
        }
      })
    }
    if (addVersion.isEmpty)
      return emptyChangesFrame(spark, table, maxPartitionScans, maxLiveFiles)
    readImpl(spark, table, None, maxPartitionScans, filter, maxLiveFiles,
      changes = Some(addVersion.toMap))
  }

  /** Column-mapping helpers (PROTOCOL.md "Column Mapping"): parquet
    * files of a mapped table carry PHYSICAL names recorded in the
    * logical schema's field metadata; nested renames ride the struct
    * shape. Shared by the main scan and the change-feed scan. */
  private def physNameOf(fl: StructField, mapped: Boolean): String =
    if (mapped && fl.metadata.contains("delta.columnMapping.physicalName"))
      fl.metadata.getString("delta.columnMapping.physicalName") else fl.name
  private def toPhysicalType(dt: DataType, mapped: Boolean): DataType = dt match {
    case st: StructType => StructType(st.fields.map(fl =>
      StructField(physNameOf(fl, mapped), toPhysicalType(fl.dataType, mapped), fl.nullable)))
    case ArrayType(et, n) => ArrayType(toPhysicalType(et, mapped), n)
    case MapType(k, v, n) => MapType(toPhysicalType(k, mapped), toPhysicalType(v, mapped), n)
    case other => other
  }
  private def stripMetaType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(fl =>
      StructField(fl.name, stripMetaType(fl.dataType), fl.nullable)))
    case ArrayType(et, n) => ArrayType(stripMetaType(et), n)
    case MapType(k, v, n) => MapType(stripMetaType(k), stripMetaType(v), n)
    case other => other
  }

  /** Row-level CHANGE FEED for the window (sinceVersion, head] — the
    * delta-spark `table_changes` surface (PROTOCOL.md "Add CDC File"),
    * output = table columns + `_change_type` + `_commit_version` +
    * `_commit_timestamp`. Per-commit reconstruction, the protocol's
    * rule:
    *
    *  - a commit carrying `cdc` actions serves THOSE FILES ALONE — its
    *    add/remove actions are main-snapshot bookkeeping, not feed
    *    content (cdc rows carry their own `_change_type`:
    *    insert/delete/update_preimage/update_postimage, preserved
    *    verbatim);
    *  - a cdc-less commit DERIVES: dataChange=true adds contribute
    *    their full rows as `insert`; dataChange=true removes contribute
    *    the removed file's rows as `delete`, read from the
    *    still-present file (a vacuumed one refuses naming a
    *    re-baseline). A rewrite (UPDATE/MERGE without
    *    delta.enableChangeDataFeed) thus surfaces as delete+insert
    *    pairs — the exact row-multiset effect without intent labels;
    *    the connector refuses this case outright, so serving the
    *    file-level truth is strictly more, never differently, useful;
    *  - dataChange=false actions (OPTIMIZE rearrangements) contribute
    *    nothing — compaction inside the window is INVISIBLE here, where
    *    the adds-only [[readChangesSince]] must refuse it;
    *  - deletion vectors on a cdc-less commit's actions refuse (the
    *    row-subset diff is information an add/remove derivation cannot
    *    see); a remove of a partitioned file that omits partitionValues
    *    refuses too (data files do not store partition columns, so the
    *    tuple is unrecoverable);
    *  - a metaData action inside the window refuses unless it states
    *    exactly what the head states (the creation commit of a
    *    `since = -1` window) — schema evolution under a feed is a
    *    re-baseline.
    *
    * Scale shape: the driver reads only the window's commit jsons; each
    * distinct (change kind, partition tuple) group is one pruned
    * parquet scan over exactly its files, partition columns attached as
    * typed literals; no shuffle, no driver row funnel. */
  def readChangeFeed(spark: SparkSession, table: String, sinceVersion: Long,
      filter: Option[String] = None,
      maxLiveFiles: Int = DefaultMaxLiveFiles,
      endVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_millis}
    import scala.jdk.CollectionConverters._
    val state = gated(DeltaLog.snapshot(spark, table, None, maxLiveFiles))
    val schema = state.schema
    val partitionCols = state.partitionCols
    val mapped = state.mappingMode != "none"
    val ls = DeltaLog.list(spark, table)
    val f = ls.fs
    val tableHead = ls.requireHead
    // an explicit end bounds the window (the table_changes
    // (start, end) form); the head STATE still governs the serving
    // schema, and the post-end gate below keeps that sound
    endVersion.foreach(e => require(e >= 0 && e <= tableHead,
      s"delta: change feed endVersion $e outside the log (head $tableHead)"))
    val head = endVersion.getOrElse(tableHead)
    require(sinceVersion <= head,
      s"delta: change feed since version $sinceVersion requested but window end is $head")
    def resolve(p: String): String = {
      val decoded = PathKeys.percentDecode(p)
      if (decoded.contains("://") || decoded.startsWith("/")) decoded
      else table.stripSuffix("/") + "/" + decoded
    }
    // evolution identity for the additive-prefix gates: under column
    // mapping a field's identity is its PHYSICAL name (id-stable), so
    // a pure logical RENAME serves — old rows read by physical name
    // and label under the head's logical names, delta's own CDF
    // semantics; drops/retypes/layout changes still refuse. Unmapped
    // tables keep the case-insensitive logical-name identity.
    def evoKey(fl: StructField): (String, DataType) =
      (physNameOf(fl, mapped).toLowerCase, stripMetaType(fl.dataType))
    def emptyFeed(): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stripMetaType(schema).asInstanceOf[StructType])
        .withColumn("_change_type", lit(null).cast(org.apache.spark.sql.types.StringType))
        .withColumn("_commit_version", lit(null).cast(org.apache.spark.sql.types.LongType))
        .withColumn("_commit_timestamp", lit(null).cast(org.apache.spark.sql.types.TimestampType))
        .where(lit(false))
    if (sinceVersion == head) return emptyFeed()
    val window = ls.window(sinceVersion, head, "the change feed")

    // With an explicit end, the in-window metadata gate alone is not
    // enough: a NON-ADDITIVE evolution committed AFTER endVersion
    // (overwriteSchema, a rename under column mapping) lives outside
    // the window, yet the feed serves under the HEAD schema — old
    // files would read back with dropped/renamed columns nulled
    // instead of refusing. Resolve the state AS OF endVersion and
    // require the end→head evolution itself to be additive (appended
    // nullable columns, same partitioning, same mapping mode); then
    // head-schema serving nulls the appended columns exactly like
    // delta's own old-file semantics, and anything else refuses.
    endVersion.filter(_ < tableHead).foreach { e =>
      val endState = gated(DeltaLog.snapshot(spark, table, Some(e), maxLiveFiles))
      val endSchema = endState.schema
      val additive = endSchema.fields.length <= schema.fields.length &&
        endSchema.fields.zip(schema.fields).forall { case (a, b) => evoKey(a) == evoKey(b) }
      val samePc = endState.partitionCols == partitionCols
      val sameMapping = endState.mappingMode == state.mappingMode
      require(additive && samePc && sameMapping,
        s"delta: change feed window ($sinceVersion, $e] unservable — the table metadata " +
          "changed after the window end beyond additive column evolution, so window rows " +
          "cannot be labelled under the current schema; re-baseline with a full read")
    }

    // None changeType = a cdc file (rows carry their own _change_type)
    case class FileChange(path: String, pv: Map[String, Option[String]], changeType: Option[String])
    case class CommitChanges(version: Long, tsMs: Long, files: Seq[FileChange])
    val perCommit: Seq[CommitChanges] = window.map { c =>
      val v = c.version
      val lines = DeltaLog.readActions(f, c.status.getPath)
      val commitTs = DeltaLog.commitTimestamp(c, lines)
      lines.flatMap(a => Option(a.get("metaData")).filterNot(_.isNull)).foreach { md =>
        // additive evolution is servable: a window metaData whose schema
        // is a PREFIX of the head's (same identities+types in order;
        // head may append nullable columns) reads old rows under the
        // head schema with the added columns nulled — delta's own
        // semantics for old files. Under column mapping the identity is
        // the physical name, so logical renames serve too (evoKey);
        // drops/type changes/layout changes refuse.
        val okSchema = Option(md.get("schemaString")).exists { sj =>
          scala.util.Try {
            val mdFields = DataType.fromJson(sj.asText()).asInstanceOf[StructType].fields
            mdFields.length <= schema.fields.length &&
              mdFields.zip(schema.fields).forall { case (a, b) => evoKey(a) == evoKey(b) }
          }.getOrElse(false)
        }
        val samePc = Option(md.get("partitionColumns")).map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Nil) == partitionCols
        val sameMapping = Option(md.get("configuration")).flatMap(c =>
          Option(c.get("delta.columnMapping.mode")).map(_.asText())).getOrElse("none") ==
          state.mappingMode
        require(okSchema && samePc && sameMapping,
          s"delta: change feed since $sinceVersion unservable — version $v changes the table " +
            "metadata (schema/partitioning/column mapping) beyond additive column evolution; " +
            "re-baseline with a full read")
      }
      def pvOfNode(n: JsonNode): Map[String, Option[String]] =
        Option(n.get("partitionValues")).filterNot(_.isNull).map(_.fields().asScala.map(e =>
          e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))).toMap)
          .getOrElse(Map.empty)
      // a usable remove tuple must COVER every partition column (keys
      // may map to null — a null partition value — but an absent key
      // means the tuple is unrecoverable and deriving would emit rows
      // into the wrong (null) partition)
      def coversPartitions(n: JsonNode): Boolean = {
        val pvm = pvOfNode(n)
        partitionCols.forall(pc =>
          pvm.contains(physNameOf(schema(pc), mapped)) || pvm.contains(pc))
      }
      val cdcs = lines.flatMap(a => Option(a.get("cdc")).filterNot(_.isNull))
        .map(c => FileChange(c.get("path").asText(), pvOfNode(c), None))
      if (cdcs.nonEmpty) CommitChanges(v, commitTs, cdcs)
      else {
        val adds = lines.flatMap(a => Option(a.get("add")).filterNot(_.isNull)).filter(DeltaLog.dataChange)
        val removes = lines.flatMap(a => Option(a.get("remove")).filterNot(_.isNull)).filter(DeltaLog.dataChange)
        (adds ++ removes).foreach { n =>
          require(Option(n.get("deletionVector")).forall(_.isNull),
            s"delta: change feed since $sinceVersion unservable — version $v changes rows " +
              "through a deletion vector without cdc files; enable delta.enableChangeDataFeed " +
              "on the writer or re-baseline with a full read")
        }
        removes.foreach { rm =>
          require(partitionCols.isEmpty || coversPartitions(rm),
            s"delta: change feed since $sinceVersion unservable — version $v removes " +
              s"'${rm.get("path").asText()}' without a full partitionValues tuple (data files " +
              "do not store partition columns, so the tuple is unrecoverable); re-baseline " +
              "with a full read")
          val p = resolve(rm.get("path").asText())
          require(f.exists(new Path(p)),
            s"delta: change feed since $sinceVersion unservable — version $v removed '$p' " +
              "and the file is gone (vacuumed); re-baseline with a full read")
        }
        CommitChanges(v, commitTs,
          adds.map(n => FileChange(n.get("path").asText(), pvOfNode(n), Some("insert"))) ++
            removes.map(n => FileChange(n.get("path").asText(), pvOfNode(n), Some("delete"))))
      }
    }

    val dataFields = schema.fields.filterNot(fl => partitionCols.contains(fl.name)).toSeq
    val dataSchema = toPhysicalType(StructType(dataFields), mapped).asInstanceOf[StructType]
    def pvLookup(pv: Map[String, Option[String]], pc: String): Option[String] =
      pv.get(physNameOf(schema(pc), mapped)).orElse(pv.get(pc)).flatten
    // one scan per (change kind, partition tuple) group; cdc files
    // physically carry `_change_type` (it is NOT a table column, so it
    // is never column-mapped), derived groups get it as a literal
    def scanGroup(files: Seq[FileChange], cdcFile: Boolean): DataFrame = {
      val readSchema =
        if (cdcFile) StructType(dataSchema.fields :+
          StructField("_change_type", org.apache.spark.sql.types.StringType))
        else dataSchema
      val base = spark.read.schema(readSchema).parquet(files.map(fc => resolve(fc.path)): _*)
      val logical =
        if (!mapped) base
        else base.select(dataFields.map(fl =>
          col(physNameOf(fl, mapped)).cast(stripMetaType(fl.dataType)).as(fl.name)) ++
          (if (cdcFile) Seq(col("_change_type")) else Nil): _*)
      partitionCols.foldLeft(logical) { (df, pc) =>
        df.withColumn(pc, pvLookup(files.head.pv, pc) match {
          case Some(s) => lit(s).cast(schema(pc).dataType)
          case None    => lit(null).cast(schema(pc).dataType)
        })
      }
    }
    val frames = perCommit.flatMap { cc =>
      cc.files.groupBy(fc => (fc.changeType, fc.pv)).toSeq.map { case ((ct, _), group) =>
        val scanned = scanGroup(group, cdcFile = ct.isEmpty)
        val typed = ct.fold(scanned)(t => scanned.withColumn("_change_type", lit(t)))
        typed.withColumn("_commit_version", lit(cc.version))
          .withColumn("_commit_timestamp", timestamp_millis(lit(cc.tsMs)))
      }
    }
    if (frames.isEmpty) return emptyFeed()
    val ordered = schema.fieldNames.toSeq ++ Seq("_change_type", "_commit_version", "_commit_timestamp")
    val out = frames.map(_.select(ordered.map(col): _*)).reduce(_ unionByName _)
    filter.map(fs => out.where(expr(fs))).getOrElse(out)
  }

  private def emptyChangesFrame(spark: SparkSession, table: String,
      maxPartitionScans: Int, maxLiveFiles: Int): DataFrame = {
    val base = readImpl(spark, table, None, maxPartitionScans, None, maxLiveFiles,
      schemaOnly = true)
    import org.apache.spark.sql.functions.lit
    base.withColumn("_commit_version", lit(null).cast(org.apache.spark.sql.types.LongType))
      .withColumn("_commit_timestamp", lit(null).cast(org.apache.spark.sql.types.TimestampType))
      .where(lit(false))
  }

  /** The table's current version: max(checkpoint version, newest
    * commit json). The streaming source's `getOffset` probe. */
  private[readers] def currentVersion(spark: SparkSession, table: String): Long =
    DeltaLog.list(spark, table).requireHead

  /** Schema without touching any data file (the deferred/streaming
    * registration probe). */
  private[readers] def schemaOf(spark: SparkSession, table: String): org.apache.spark.sql.types.StructType =
    readImpl(spark, table, None, 64, None, DefaultMaxLiveFiles, schemaOnly = true).schema

  /** Scan exactly `paths` as of `version` (the streaming source's
    * per-version batch): the ordinary pinned read restricted to the
    * subset, with the changes tag columns dropped back to the table
    * schema (a stream's schema must be constant). */
  private[readers] def readSubsetAt(spark: SparkSession, table: String, version: Long,
      paths: Set[String]): DataFrame = {
    val df = readImpl(spark, table, Some(version), 64, None, DefaultMaxLiveFiles,
      changes = Some(paths.map(_ -> (version, 0L)).toMap))
    df.drop("_commit_version", "_commit_timestamp")
  }

  /** DESCRIBE HISTORY (delta-spark `DeltaTable.history()`): one row
    * per commit json still in the log, newest first — version,
    * timestamp (commitInfo's if present, else the commit file's
    * mtime, the same clock timestampAsOf reads), operation, add/remove
    * counts and whether any action changed data. Driver-metadata only
    * (the log is metadata-scale by design); versions aged out below a
    * checkpoint are simply absent, like delta-spark after log cleanup. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ls = DeltaLog.list(spark, table)
    val rows = ls.commits.reverse.map { c =>
      val actions = DeltaLog.readActions(ls.fs, c.status.getPath)
      def of(kind: String): Seq[JsonNode] = actions.flatMap(a => Option(a.get(kind)).filterNot(_.isNull))
      val op = of("commitInfo").flatMap(ci => Option(ci.get("operation")).filterNot(_.isNull))
        .lastOption.map(_.asText()).orNull
      val files = of("add") ++ of("remove")
      Row(c.version, new java.sql.Timestamp(DeltaLog.commitTimestamp(c, actions)), op,
        of("add").size.toLong, of("remove").size.toLong, files.exists(DeltaLog.dataChange))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType),
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("num_added_files", LongType),
      StructField("num_removed_files", LongType),
      StructField("data_change", BooleanType))))
  }

  /** DESCRIBE DETAIL (delta-spark's `DeltaTable.detail`): ONE row of
    * table-level facts — format, id, location, partitioning, live
    * file count/bytes, configuration, protocol — from the same snapshot
    * every read uses (no data IO; the protocol survives log cleanup
    * through the checkpoint). */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val state = DeltaLog.snapshot(spark, table)
    val md = new ObjectMapper().readTree(state.metaJson)
    val createdAt = Option(md.get("createdTime")).filterNot(_.isNull).map(_.asLong())
    val row = Row("delta", Option(md.get("id")).map(_.asText()).orNull, table.stripSuffix("/"),
      createdAt.map(new java.sql.Timestamp(_)).orNull,
      state.partitionCols.toList, state.liveFiles.size.toLong,
      state.liveFiles.map(_.size).sum, state.configuration,
      state.minReaderVersion, state.minWriterVersion)
    spark.createDataFrame(Seq(row).asJava, StructType(Seq(
      StructField("format", StringType),
      StructField("id", StringType),
      StructField("location", StringType),
      StructField("createdAt", TimestampType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("numFiles", LongType),
      StructField("sizeInBytes", LongType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType))))
  }

  /** Time travel by timestamp (the delta-rs `load_with_datetime` /
    * Spark `timestampAsOf` semantics): the last commit whose file
    * modification time is <= the given epoch-millis instant. */
  def readAsOfTimestamp(spark: SparkSession, table: String, timestampMs: Long,
      maxPartitionScans: Int = 64, filter: Option[String] = None,
      maxLiveFiles: Int = DefaultMaxLiveFiles, schemaOnly: Boolean = false): DataFrame = {
    // version resolution pinned per planning pass: a PAST timestamp
    // resolves identically on every probe, but a still-open bound (a
    // timestamp at-or-after now) tracks the live tail, and self-join
    // legs of one query must not watch it move mid-planning
    val version = graft.plans.SnapshotPin.pin(s"delta-asof:$table:$timestampMs") {
      val commits = DeltaLog.list(spark, table).commits
        .map(c => c.version -> c.status.getModificationTime)
      val eligible = commits.filter(_._2 <= timestampMs)
      require(eligible.nonEmpty,
        s"delta: no commit at or before timestamp $timestampMs (earliest is ${commits.headOption.map(_._2).getOrElse(-1L)})")
      eligible.last._1
    }
    readImpl(spark, table, Some(version), maxPartitionScans, filter, maxLiveFiles, schemaOnly)
  }

  /** The reader's profile gates, applied to the shared snapshot at
    * read time: parquet tables with `minReaderVersion` 1, or 2/3 with
    * reader features limited to timestampNtz/v2Checkpoint/
    * deletionVectors/columnMapping, a known column mapping mode, and
    * at least one live data file. */
  private def gated(s: DeltaLog.Snapshot): DeltaLog.Snapshot = {
    import scala.jdk.CollectionConverters._
    require(s.provider == "parquet", s"delta: format provider '${s.provider}' outside the supported profile")
    val minReader = s.minReaderVersion
    require(minReader <= 3, s"delta: minReaderVersion $minReader outside the supported profile")
    val gating = Option(s.protocol.get("readerFeatures")).toSeq.flatMap(_.elements().asScala.map(_.asText()))
      .filterNot(Set("timestampNtz", "v2Checkpoint", "deletionVectors", "columnMapping").contains)
    require(minReader < 3 || gating.isEmpty,
      s"delta: reader features ${gating.mkString(",")} outside the supported profile")
    require(Set("none", "name", "id").contains(s.mappingMode),
      s"delta: column mapping mode '${s.mappingMode}' outside the supported profile")
    require(s.liveFiles.nonEmpty, s"delta: table has no live data files")
    s
  }

  private def readImpl(spark: SparkSession, table: String, versionAsOf: Option[Long],
      maxPartitionScans: Int, filterSql: Option[String], maxLiveFiles: Int,
      schemaOnly: Boolean = false,
      changes: Option[Map[String, (Long, Long)]] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = DeltaLog.fs(spark, table)
    val state = gated(DeltaLog.snapshot(spark, table, versionAsOf, maxLiveFiles))
    val partitionCols = state.partitionCols
    val mapped = state.mappingMode != "none"
    val schema = state.schema
    def resolve(p: String): String = {
      val decoded = PathKeys.percentDecode(p) // URL-encoded in the log; '+' stays literal
      if (decoded.contains("://") || decoded.startsWith("/")) decoded
      else table.stripSuffix("/") + "/" + decoded
    }

    // Column mapping ('name'/'id'): parquet files carry PHYSICAL column
    // names; the logical schema's field metadata maps them back. 'id'
    // tables also always write physical names, so name-keyed reads
    // cover both modes. Nested renames ride a positional struct cast.
    def physName(fl: StructField): String = physNameOf(fl, mapped)
    def toPhysical(dt: DataType): DataType = toPhysicalType(dt, mapped)
    def stripMeta(dt: DataType): DataType = stripMetaType(dt)

    // deferred registration probe: the log replay above already
    // validated the table and its profile gates; stop BEFORE any data
    // file is touched — the first query's filter decides which files
    // may be opened at all
    if (schemaOnly)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        stripMeta(schema).asInstanceOf[StructType])

    // ---- file-level predicate skipping (the 100 TB lever) ------------
    // Prune the live-file list from the filter BEFORE any data file is
    // opened: exact partition-tuple evaluation (both partition paths —
    // crucially the >maxPartitionScans broadcast path, where Catalyst
    // sees no per-scan literals to constant-fold), then conservative
    // add.stats min/max ranges. The full filter re-applies to the
    // result below, so skipping is correctness-neutral by construction.
    def pvOf(e: DeltaLog.AddFile, pc: String): Option[String] = {
      val fl = schema(pc)
      e.partitionValues.get(physName(fl)).orElse(e.partitionValues.get(pc)).flatten
    }
    val filterConjs = filterSql.toSeq.flatMap(FileSkipping.conjuncts)
    // Generated partition columns (delta-spark's "generated column
    // partition filter" derivation): a partition column whose
    // delta.generationExpression is a function of ONE data column lets
    // conjuncts on that column derive partition conjuncts — the
    // generation expression is evaluated ON THE LITERAL by Spark itself
    // (same engine, same session timezone as the scan-time residual, so
    // semantics match by construction). Equality derives through any
    // deterministic expression; ranges only through the MONOTONE
    // whitelist (cast-to-date, date_trunc, trunc, year — `ts > v`
    // implies `g(ts) >= g(v)` only when g is non-decreasing).
    val derivedConjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      if (filterConjs.isEmpty || partitionCols.isEmpty) Nil
      else scala.util.Try {
        import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
        import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
        def isMonotone(e: Expression): Boolean = e match {
          case c: Cast => c.dataType == org.apache.spark.sql.types.DateType &&
            c.child.isInstanceOf[UnresolvedAttribute]
          case f: UnresolvedFunction =>
            Set("date_trunc", "trunc", "year").contains(f.nameParts.last.toLowerCase) ||
              // date_format is monotone when the pattern renders
              // zero-padded fields most-significant-first with fixed
              // separators — then lexicographic string order equals time
              // order. DATE granularity only ('yyyy', 'yyyy-MM',
              // 'yyyy-MM-dd' and / variants): time-of-day components
              // (HH/mm/ss) render the session zone's LOCAL clock, which
              // runs BACKWARD across a DST fall-back — deriving a range
              // through them could prune a file whose rows match.
              // (Date-granularity shares the cast-to-date whitelist's
              // exposure to the exotic midnight-transition zones, and no
              // more.) Anything else ('MM', 'dd', locale names) fails open.
              (f.nameParts.last.toLowerCase == "date_format" && f.arguments.lift(1).exists {
                case org.apache.spark.sql.catalyst.expressions.Literal(
                    v: org.apache.spark.unsafe.types.UTF8String, _) =>
                  v.toString.matches("yyyy([-/]MM([-/]dd)?)?")
                case _ => false
              })
          case _ => false
        }
        // the literal's TEXT must come from CAST(.. AS STRING) inside the
        // same query — a collected java.sql.Timestamp renders toString in
        // the JVM default zone, which silently shifts the instant when it
        // differs from spark.sql.session.timeZone; the string cast both
        // renders AND later re-parses in the session zone, so the
        // roundtrip is exact by construction
        def renderTyped(typeName: String, text: String): Option[String] =
          typeName.toLowerCase match {
            case t if t == "date"                           => Some(s"DATE '$text'")
            case t if t.startsWith("timestamp")             => Some(s"TIMESTAMP '$text'")
            case "tinyint" | "smallint" | "int" | "bigint"  => Some(text)
            case t if t.startsWith("decimal")               => Some(text)
            case "string"                                   => Some("'" + text.replace("'", "''") + "'")
            case _                                          => None
          }
        partitionCols.flatMap { pc =>
          val fl = schema(pc)
          if (!fl.metadata.contains("delta.generationExpression")) Nil
          else {
            val genSql = fl.metadata.getString("delta.generationExpression")
            val genExpr = FileSkipping.conjuncts(genSql).head // parse (single expression)
            FileSkipping.usableRefs(genExpr).filter(_.size == 1).toSeq.flatMap { refs =>
              val src = refs.head
              val monotone = isMonotone(genExpr)
              filterConjs.flatMap(FileSkipping.simpleShape).collect {
                case c @ FileSkipping.Cmp(n, op, _) if n.equalsIgnoreCase(src) &&
                    (op == "=" || monotone) => c
              }.flatMap { c =>
                // evaluate g(literal) with Spark: SELECT g FROM (SELECT lit AS src)
                val evaluated: Seq[Option[String]] = c.values.map { l =>
                  scala.util.Try {
                    val row = spark.sql(
                      s"SELECT typeof(($genSql)), CAST(($genSql) AS STRING) FROM (SELECT ${l.sql} AS `$src`)")
                      .collect().head
                    if (row.isNullAt(1)) None else renderTyped(row.getString(0), row.getString(1))
                  }.toOption.flatten
                }
                if (evaluated.exists(_.isEmpty)) Nil
                else {
                  val vs = evaluated.flatten
                  val op = c.op match { case ">" => ">="; case "<" => "<="; case o => o }
                  val sql =
                    if (vs.size == 1) s"`$pc` $op ${vs.head}"
                    else s"`$pc` IN (${vs.mkString(", ")})"
                  FileSkipping.conjuncts(sql)
                }
              }
            }
          }
        }
      }.getOrElse(Nil)
    def emptyTyped(): DataFrame = {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        stripMeta(schema).asInstanceOf[StructType])
      changes.fold(base)(_ => base
        .withColumn("_commit_version", lit(null).cast(org.apache.spark.sql.types.LongType))
        .withColumn("_commit_timestamp", lit(null).cast(org.apache.spark.sql.types.TimestampType)))
    }
    // changes read: restrict the scan to the window's surviving adds
    var liveEntries: Seq[DeltaLog.AddFile] =
      changes.fold(state.liveFiles: Seq[DeltaLog.AddFile])(m => state.liveFiles.filter(e => m.contains(e.path)))
    if (changes.isDefined && liveEntries.isEmpty) return emptyTyped()
    if (filterConjs.nonEmpty) {
      if (partitionCols.nonEmpty) {
        val partFields = partitionCols.map(pc => StructField(pc, schema(pc).dataType))
        val tuples = liveEntries.map(e => e.path -> partitionCols.map(pc => pvOf(e, pc).orNull))
        FileSkipping.partitionPrune(spark, partFields, tuples, filterConjs ++ derivedConjs)
          .foreach(kept => liveEntries = liveEntries.filter(e => kept.contains(e.path)))
      }
      // stats JSON keys are PHYSICAL names under column mapping — the
      // statsKey map routes each logical column to its stats entry
      if (liveEntries.nonEmpty) {
        val statsKeys =
          if (!mapped) Map.empty[String, String]
          else schema.fields.map(fl => fl.name -> physName(fl)).toMap
        FileSkipping.statsPrune(spark, schema,
          liveEntries.map(e => e.path -> e.stats.orNull), filterConjs, statsKeys)
          .foreach(kept => liveEntries = liveEntries.filter(e => kept.contains(e.path)))
      }
      if (liveEntries.isEmpty) // every file skipped: the empty result, typed
        return emptyTyped()
    }

    val hasDv = liveEntries.exists(_.hasDv)
    val needTag = hasDv || changes.isDefined
    import org.apache.spark.sql.functions.{expr, regexp_replace}
    def norm(c: Column): Column = PathKeys.scanKey(c)
    // `_metadata` is only resolvable on a direct file scan, so the
    // file/row tags must attach at each scan base, not after the union
    def tag(df: DataFrame): DataFrame =
      if (!needTag) df
      else df.withColumn("__file", norm(expr("_metadata.file_path")))
        .withColumn("__pos", expr("_metadata.row_index"))
    val extraCols = if (needTag) Seq("__file", "__pos") else Nil
    def renameToLogical(df: DataFrame, fields: Seq[StructField]): DataFrame =
      if (!mapped) df
      else df.select(fields.map(fl =>
        col(physName(fl)).cast(stripMeta(fl.dataType)).as(fl.name)) ++ extraCols.map(col): _*)

    val scanned =
      if (partitionCols.isEmpty) {
        val phys = toPhysical(schema).asInstanceOf[StructType]
        renameToLogical(
          tag(spark.read.schema(phys).parquet(liveEntries.map(e => resolve(e.path)): _*)),
          schema.fields.toSeq)
      } else {
        val dataFields = schema.fields.filterNot(fl => partitionCols.contains(fl.name)).toSeq
        val dataSchema = toPhysical(StructType(dataFields)).asInstanceOf[StructType]
        val groups = liveEntries.groupBy(_.partitionValues)
        if (groups.size <= maxPartitionScans) {
          // one read per distinct partition tuple, partition values
          // attached as typed literal columns (Delta data files omit
          // them; the log keys partitionValues by PHYSICAL name under
          // column mapping)
          val frames = groups.toSeq.map { case (_, entries) =>
            val base = renameToLogical(
              tag(spark.read.schema(dataSchema).parquet(entries.map(e => resolve(e.path)): _*)), dataFields)
            partitionCols.foldLeft(base) { (df, pc) =>
              val value: Column = pvOf(entries.head, pc) match {
                case Some(s) => lit(s).cast(schema(pc).dataType)
                case None    => lit(null).cast(schema(pc).dataType)
              }
              df.withColumn(pc, value)
            }
          }
          frames.reduce(_ unionByName _).select((schema.fieldNames.toSeq ++ extraCols).map(col): _*)
        } else {
          // high-cardinality partitioning: ONE scan + broadcast
          // (file → partition values) join — plan stays O(1) instead of
          // O(partitions) FileScan nodes union-reduced together
          val base0 = tag(spark.read.schema(dataSchema).parquet(liveEntries.map(e => resolve(e.path)): _*))
            .withColumn("__pfile", norm(expr("_metadata.file_path")))
          val renamed =
            if (!mapped) base0
            else base0.select(dataFields.map(fl =>
              col(physName(fl)).cast(stripMeta(fl.dataType)).as(fl.name)) ++
              (extraCols :+ "__pfile").map(col): _*)
          val pvSchema = StructType(StructField("__pv_file", org.apache.spark.sql.types.StringType) +:
            partitionCols.map(pc => StructField(s"__pv_$pc", org.apache.spark.sql.types.StringType)).toArray.toSeq)
          val pvRows = liveEntries.map { e =>
            org.apache.spark.sql.Row.fromSeq(
              PathKeys.driverKey(resolve(e.path), f) +:
                partitionCols.map(pc => pvOf(e, pc).orNull))
          }
          val pvDf = org.apache.spark.sql.functions.broadcast(
            spark.createDataFrame(spark.sparkContext.parallelize(pvRows, 1), pvSchema))
          val joined = renamed.join(pvDf, col("__pfile") === col("__pv_file"), "left")
          partitionCols.foldLeft(joined) { (df, pc) =>
            df.withColumn(pc, col(s"__pv_$pc").cast(schema(pc).dataType))
          }.select((schema.fieldNames.toSeq ++ extraCols).map(col): _*)
        }
      }

    val result =
    if (!hasDv) scanned
    else {
      // DV bitmaps decode ON EXECUTORS (one task per descriptor batch —
      // the driver ships only the ~100-byte descriptors), producing a
      // (file, row_index) delete set that anti-joins the scan; the
      // delete side is tiny relative to the data → AQE broadcasts it.
      val sconf = new graft.core.SerializableHadoopConf(conf)
      val tbl = table
      // `_metadata.file_path` is the scan path's URI form (percent-
      // encoded — spaces become %20); resolve() yields the DECODED path,
      // so re-encode through Path.toUri before keying or rows in files
      // with quotable characters would silently resurrect
      val descs: Seq[(String, String, String, Int, Int, Long)] =
        liveEntries.flatMap(e => e.dv.map(d =>
          (PathKeys.driverKey(resolve(e.path), f),
            d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes, d.cardinality)))
      import spark.implicits._
      val deletes = spark.createDataset(descs)
        .repartition(math.max(1, math.min(descs.size, spark.sparkContext.defaultParallelism)))
        .flatMap { case (fp, st, pid, off, sz, card) =>
          dvRows(tbl, DvDescriptor(st, pid, off, sz, card), sconf.value).map(pos => (fp, pos))
        }.toDF("__del_file", "__del_pos")
      scanned.join(deletes,
        col("__file") === col("__del_file") && col("__pos") === col("__del_pos"), "left_anti")
        .select((schema.fieldNames.toSeq ++
          (if (changes.isDefined) Seq("__file") else Nil)).map(col): _*)
    }
    // changes read: attach (_commit_version, _commit_timestamp) via a
    // broadcast (file → version) join keyed on the scan's own
    // `_metadata.file_path` — uniform across partition layouts, column
    // mapping and DVs, O(new files) driver state
    val withChanges = changes match {
      case None => result
      case Some(m) =>
        val rows = liveEntries.map { e =>
          val (v, ts) = m(e.path)
          org.apache.spark.sql.Row(PathKeys.driverKey(resolve(e.path), f), v,
            new java.sql.Timestamp(ts))
        }
        val chSchema = StructType(Seq(
          StructField("__ch_file", org.apache.spark.sql.types.StringType),
          StructField("__ch_version", org.apache.spark.sql.types.LongType),
          StructField("__ch_ts", org.apache.spark.sql.types.TimestampType)))
        val chDf = org.apache.spark.sql.functions.broadcast(
          spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), chSchema))
        result.join(chDf, col("__file") === col("__ch_file"))
          .select((schema.fieldNames.toSeq.map(col) :+
            col("__ch_version").as("_commit_version") :+
            col("__ch_ts").as("_commit_timestamp")): _*)
    }
    // residual filter: file skipping is a superset guarantee; applying
    // the whole predicate here makes the result exactly where(filter)
    filterSql.map(fs => withChanges.where(expr(fs))).getOrElse(withChanges)
  }
}

/** Registry wrapper: the connector-gated `spark_delta` FormatReader
  * precedes this in `SparkReaders.all`, so the real connector wins when
  * its jar is present; this native log replay is the always-importable
  * fallback. */
class DeltaReaderImpl extends Reader {
  val name = "delta_native"
  val implementsKinds = Set("delta")
  // an explicit `filter` option keeps the eager pruned read; otherwise
  // the deferred frame lets the QUERY's own filters drive file skipping
  def read(spark: SparkSession, ref: DataRef): DataFrame =
    if (ref.options.get("history").exists(_.equalsIgnoreCase("true")))
      // DESCRIBE HISTORY through the catalog route
      DeltaReader.history(spark, ref.url)
    else if (ref.options.contains("changeFeedSince"))
      // row-level change feed (cdc actions + add/remove derivation),
      // tagged _change_type/_commit_version/_commit_timestamp
      DeltaReader.readChangeFeed(spark, ref.url, ref.options("changeFeedSince").toLong,
        filter = ref.options.get("filter"),
        endVersion = ref.options.get("changeFeedEnd").map(_.toLong))
    else if (ref.options.contains("changesSince"))
      // incremental batch read: rows added after the given version,
      // tagged _commit_version/_commit_timestamp (always eager — the
      // window is resolved at read time, like versionAsOf)
      DeltaReader.readChangesSince(spark, ref.url, ref.options("changesSince").toLong,
        filter = ref.options.get("filter"))
    else (ref.options.get("filter"), ref.options.get("timestampAsOf")) match {
      case (Some(_), Some(ts)) =>
        DeltaReader.readAsOfTimestamp(spark, ref.url, PathKeys.parseTimestampMs(ts),
          filter = ref.options.get("filter"))
      case (Some(_), None) =>
        DeltaReader.read(spark, ref.url, ref.options.get("versionAsOf").map(_.toLong),
          filter = ref.options.get("filter"))
      case (None, ts) =>
        DeltaReader.table(spark, ref.url,
          versionAsOf = ref.options.get("versionAsOf").map(_.toLong),
          timestampMs = ts.map(PathKeys.parseTimestampMs))
    }
}
