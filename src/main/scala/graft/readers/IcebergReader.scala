package graft.readers

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.datatypes.DataRef
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Native Apache Iceberg table reader (published Iceberg table spec;
  * reference datatypes.py:861 IcebergDataset / readers.py:1139
  * PolarsIceberg `scan_iceberg`). Reads a warehouse directory WITHOUT
  * the iceberg-spark connector jar by walking the table's own metadata:
  *
  *  1. `metadata/` — highest-version `*.metadata.json` (honouring
  *     `version-hint.text` when present) → current snapshot;
  *  2. the snapshot's manifest list (Avro, parsed on the driver by
  *     [[IcebergManifestCodec]] — no Spark job) → manifest file paths;
  *  3. each manifest (Avro, same codec) → live data-file entries
  *     (`status != 2`);
  *  4. `spark.read.parquet(files…)` over the surviving data files —
  *     Iceberg data files carry all columns including identity
  *     partition values, so the parquet scan is the full table. Columns
  *     resolve by FIELD ID (the spec's rule): the current schema's ids
  *     ride `parquet.field.id` metadata and Spark's
  *     `parquet.fieldId.read` matcher, so renamed columns read
  *     correctly from pre-rename files and added columns null out on
  *     files written before the add. The two
  *     `spark.sql.parquet.fieldId.read.*` confs are scoped to a
  *     session CLONE that only this table's scans live in (round 9) —
  *     the caller's own parquet reads stay by-name; see [[read]].
  *
  * Stated profile: format-version 1 and 2 tables of parquet data files.
  * v2 POSITION deletes apply as a distributed anti-join of the scan's
  * `(_metadata.file_path, _metadata.row_index)` against the delete
  * files' `(file_path, pos)` — path-keyed, so correct without sequence
  * numbers (data file paths are immutable). EQUALITY deletes apply
  * with the spec's sequence-number ordering: a delete row removes data
  * rows matching its equality columns only in data files whose
  * sequence number is strictly below the delete file's (the schema's
  * field-id map resolves `equality_ids` to column names), and — round
  * 9 — SCOPED to the delete file's own partition when its spec is
  * partitioned (the spec's rule; identity tuples re-express over data
  * columns, bucket[N] tuples recompute the spec's murmur3 per row — the
  * Flink-CDC layout; other transforms refuse loudly, since global
  * application would over-delete). ORC data
  * files (common in Hive-migrated tables) scan through Spark's native
  * ORC source, unioned with the parquet scan — by NAME (no ORC
  * field-id matcher in Spark), so ORC renames don't resolve. Avro data
  * files and non-parquet DELETE files refuse.
  * `schema.name-mapping.default` (Hive migrate/add_files imports)
  * RESOLVES (round 8): parquet footers are inspected on executors,
  * id-less files group by their resolved mapping-name assignment and
  * scan by name with renames back to the current schema; files
  * matching neither ids nor mapping refuse loudly, as does the
  * ORC + name-mapping combination.
  * Time travel: `snapshotId` pins any snapshot the metadata still
  * references, read under the snapshot's OWN schema-id (the spec's
  * binding; a pre-evolution snapshot surfaces only its own columns). When the real connector jar IS on the classpath the
  * gated `spark_iceberg` FormatReader outranks this one in the
  * registry, so the native path is the fallback, not a replacement.
  *
  * Scale shape: the driver touches only metadata JSON (KBs) and the
  * manifest Avro files (parsed driver-locally and cached — they list
  * file paths, not rows); the data scan is a plain distributed
  * parquet read with pushdown/pruning intact. Driver state is O(live
  * manifest entries) (~200 B each, ~200 MB at 1M files) and EXPLICITLY
  * capped at [[DefaultMaxManifestEntries]] (default 4M ≈ 1 GB peak):
  * the walk counts entries before collecting and refuses loudly past
  * the cap, naming the iceberg-spark connector for bigger tables. The
  * count comes from the manifest-list's own added/existing/deleted
  * file-count columns when every row carries them (the normal case —
  * no second pass over the manifest Avro just to count); only
  * count-less lists (early v1, inline manifests) pay a pass over the
  * manifests' block headers.
  */
object IcebergReader {

  /** Default hard cap on collected manifest entries (see scale shape
    * above). A `read(maxManifestEntries = ...)` parameter rather than
    * mutable global state: specs exercising the refusal pass a small
    * value, and concurrent reads can't race each other's caps. */
  val DefaultMaxManifestEntries: Long = 4_000_000L

  import IcebergManifestCodec.{ManifestListRow, ManifestRow}

  // Manifest cache (repeated queries over a deferred view must not
  // re-read manifest Avro per plan): Iceberg manifest files are
  // IMMUTABLE once written, so parsed rows never go stale and need no
  // invalidation probe — a new snapshot's manifest list simply mixes
  // already-cached manifests (hit) with fresh ones (read + cached).
  // Pruning is unaffected: only manifests that survive summary-level
  // skipping are ever looked up. Bounded LRU by TOTAL cached entries
  // (the same order of driver state as one maximal read).
  private val ManifestCacheMaxEntries: Long = DefaultMaxManifestEntries
  private val manifestCache = new java.util.LinkedHashMap[String, Seq[ManifestRow]](64, 0.75f, true)
  private var manifestCacheEntries = 0L // guarded by manifestCache's lock
  private def manifestCacheGet(key: String): Option[Seq[ManifestRow]] =
    manifestCache.synchronized(Option(manifestCache.get(key)))
  private def manifestCachePut(key: String, rows: Seq[ManifestRow]): Unit =
    manifestCache.synchronized {
      if (rows.length <= ManifestCacheMaxEntries) {
        Option(manifestCache.put(key, rows)).foreach(old => manifestCacheEntries -= old.length)
        manifestCacheEntries += rows.length
        val it = manifestCache.entrySet().iterator()
        while (manifestCacheEntries > ManifestCacheMaxEntries && it.hasNext) {
          val e = it.next(); manifestCacheEntries -= e.getValue.length; it.remove()
        }
      }
    }

  // Manifest LIST files are immutable too — one per snapshot — so
  // their parse caches by path with no invalidation, removing the last
  // per-query metadata read at plan time for repeated queries of an
  // unchanged snapshot (metadata.json stays re-read: it IS the
  // live-snapshot probe).
  private val ManifestListCacheMaxRows: Long = 1_000_000L
  private val manifestListCache =
    new java.util.LinkedHashMap[String, Seq[ManifestListRow]](16, 0.75f, true)
  private var manifestListCacheRows = 0L // guarded by manifestListCache's lock
  private def manifestListCacheGet(key: String): Option[Seq[ManifestListRow]] =
    manifestListCache.synchronized(Option(manifestListCache.get(key)))
  private def manifestListCachePut(key: String, rows: Seq[ManifestListRow]): Unit =
    manifestListCache.synchronized {
      if (rows.length <= ManifestListCacheMaxRows) {
        Option(manifestListCache.put(key, rows)).foreach(old => manifestListCacheRows -= old.length)
        manifestListCacheRows += rows.length
        val it = manifestListCache.entrySet().iterator()
        while (manifestListCacheRows > ManifestListCacheMaxRows && it.hasNext) {
          val e = it.next(); manifestListCacheRows -= e.getValue.length; it.remove()
        }
      }
    }

  private val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  /** The session's zone: timestamps in parsed partition JSON render in
    * it, as Spark's `to_json` renders them. */
  private def zoneOf(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

  /** Parse one manifest-list Avro (cached by path — one per snapshot,
    * immutable). Shared by the scan walk and the changes walk so the
    * v1/v2 column-name variance is handled in exactly one place. */
  private def manifestListRows(spark: SparkSession, mlPath: String,
      table: String): Seq[ManifestListRow] =
    manifestListCacheGet(mlPath).getOrElse {
      val parsed = IcebergManifestCodec.readManifestList(mlPath,
        spark.sparkContext.hadoopConfiguration, zoneOf(spark))
        .map(r => r.copy(path = resolve(r.path, table)))
      manifestListCachePut(mlPath, parsed)
      parsed
    }

  /** Every entry of one manifest (all statuses), served from
    * [[manifestCache]] or parsed and cached — the one manifest parse
    * path of the scan walk, the changes walk and the writer. */
  private def manifestRows(spark: SparkSession, tableFs: FileSystem,
      path: String): Seq[ManifestRow] = {
    val k = PathKeys.driverKey(path, tableFs)
    manifestCacheGet(k).getOrElse {
      val rows = IcebergManifestCodec.readManifest(path,
        spark.sparkContext.hadoopConfiguration, zoneOf(spark))
      manifestCachePut(k, rows)
      rows
    }
  }

  /** Live DATA file paths (raw manifest `file_path` strings) at one
    * snapshot — the changes walk's set-difference primitive. */
  private def liveDataPaths(spark: SparkSession, table: String,
      tableFs: FileSystem, snap: JsonNode, maxManifestEntries: Long): Set[String] =
    liveDataFiles(spark, table, tableFs, snap, maxManifestEntries).keySet

  /** Live DATA files with their `file_size_in_bytes` at one snapshot —
    * the changes walk's set-difference primitive plus the streaming
    * source's byte-budget admission input. Size 0 stands in where the
    * manifest omits the field. */
  private def liveDataFiles(spark: SparkSession, table: String,
      tableFs: FileSystem, snap: JsonNode, maxManifestEntries: Long): Map[String, Long] = {
    val ml = Option(snap.get("manifest-list")).getOrElse(throw new IllegalArgumentException(
      s"iceberg: snapshot ${snap.get("snapshot-id")} has no manifest-list — " +
        "the changes walk supports manifest-list snapshots only"))
    val rows = manifestListRows(spark, resolve(ml.asText(), table), table)
    val dataRefs = rows.filterNot(_.isDelete)
    val counted = dataRefs.flatMap(_.entryCount)
    require(counted.size < dataRefs.size || counted.sum <= maxManifestEntries,
      s"iceberg: ${counted.sum} manifest entries exceed $maxManifestEntries — beyond this " +
        "native reader's driver-state bound; read it with the iceberg-spark connector jar")
    val out = Map.newBuilder[String, Long]
    var n = 0L
    dataRefs.foreach { m =>
      val paths = manifestRows(spark, tableFs, m.path)
        .filter(r => r.status != 2 && r.content == 0)
        .map(r => r.filePath -> r.fileSize.getOrElse(0L))
      n += paths.length
      require(n <= maxManifestEntries,
        s"iceberg: more than $maxManifestEntries manifest entries — beyond this " +
          "native reader's driver-state bound; read it with the iceberg-spark connector jar")
      out ++= paths
    }
    out.result()
  }

  // thin accessors for the streaming source (same package, different
  // file): current metadata text, the table's FileSystem, and the
  // changes walk's live-set primitive at the default entry cap
  private[readers] def metadataText(table: String, conf: Configuration): String =
    readText(currentMetadataPath(table, conf), conf)
  /** Read an ALREADY-RESOLVED metadata path — the writer's optimistic
    * loops must parse state and version from ONE resolution. */
  private[readers] def readTextAt(url: String, conf: Configuration): String =
    readText(url, conf)
  private[readers] def tableFileSystem(table: String, conf: Configuration): FileSystem =
    fs(table, conf)
  private[readers] def liveDataPathsOf(spark: SparkSession, table: String,
      tableFs: FileSystem, snap: JsonNode): Set[String] =
    liveDataPaths(spark, table, tableFs, snap, DefaultMaxManifestEntries)
  /** Sized twin — (path → file_size_in_bytes), the streaming source's
    * byte-budget admission input. */
  private[readers] def liveDataFilesOf(spark: SparkSession, table: String,
      tableFs: FileSystem, snap: JsonNode): Map[String, Long] =
    liveDataFiles(spark, table, tableFs, snap, DefaultMaxManifestEntries)
  /** Every entry of the manifest at `path` (all statuses) — the
    * writer's live-set, expire and orphan walks. */
  private[readers] def manifestEntriesOf(spark: SparkSession, table: String,
      path: String): Seq[ManifestRow] =
    manifestRows(spark, fs(table, spark.sparkContext.hadoopConfiguration), path)
  /** (path, sequenceNumber, specId, isDelete) per manifest-list row —
    * the writer's retained-manifest walk. */
  private[readers] def manifestListRowsOf(spark: SparkSession, mlPath: String,
      table: String): Seq[(String, Long, Int, Boolean, String)] =
    manifestListRows(spark, resolve(mlPath, table), table)
      .map(r => (r.path, r.seq, r.specId, r.isDelete, r.partitionsJson))

  // one conf-scoped clone per caller session, rebuilt only when the
  // caller's runtime confs change (a repeated-query workload — e.g. a
  // deferred view realizing per query — must not pay SessionState
  // construction every read). Weak keys: a dropped caller session must
  // not be pinned by its clone.
  private val cloneCache =
    new java.util.WeakHashMap[SparkSession, (Map[String, String], SparkSession)]()

  /** The field-id-scoped scan session for `spark`: runtime confs copied
    * (newSession() starts from SparkConf defaults — cast/timezone
    * semantics must match the caller), the two fieldId confs forced on,
    * and the caller's session-registered FUNCTIONS carried over so a
    * residual filter naming one still resolves here. */
  private[readers] def scanClone(spark: SparkSession): SparkSession = cloneCache.synchronized {
    val confs = spark.conf.getAll
    val cached = Option(cloneCache.get(spark)).collect { case (k, s2) if k == confs => s2 }
    val s2 = cached.getOrElse {
      val fresh = spark.newSession()
      confs.foreach { case (k, v) =>
        scala.util.Try(fresh.conf.set(k, v)) // static/non-settable keys skip
      }
      fresh.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      fresh.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      cloneCache.put(spark, (confs, fresh))
      fresh
    }
    // functions can be (re-)registered at any time, including under a
    // BUILTIN name — copy ALL of the caller's entries, overwriting, so
    // the clone always resolves exactly what the caller would
    val src = spark.sessionState.functionRegistry
    val dst = s2.sessionState.functionRegistry
    src.listFunction().foreach { f =>
      src.lookupFunction(f).zip(src.lookupFunctionBuilder(f)).foreach {
        case (info, builder) => dst.registerFunction(f, info, builder)
      }
    }
    s2
  }

  private def fs(url: String, conf: Configuration): FileSystem =
    FileSystem.get(new URI(url).resolve("/"), conf)

  private def readText(url: String, conf: Configuration): String = {
    val in = fs(url, conf).open(new Path(url))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  /** Highest-version metadata JSON under `{table}/metadata`. */
  private[readers] def currentMetadataPath(table: String, conf: Configuration): String = {
    val metaDir = table.stripSuffix("/") + "/metadata"
    val hint = metaDir + "/version-hint.text"
    val f = fs(table, conf)
    if (f.exists(new Path(hint))) {
      val v = readText(hint, conf).trim
      val candidates = Seq(s"$metaDir/v$v.metadata.json", s"$metaDir/$v.metadata.json")
      candidates.find(p => f.exists(new Path(p))).getOrElse {
        // hashed layout: 00003-<uuid>.metadata.json
        listMetadata(metaDir, f).find(_.getName.startsWith(f"${v.toInt}%05d-"))
          .map(_.toString).getOrElse(throw new IllegalArgumentException(
            s"iceberg: version-hint $v has no matching metadata file in $metaDir"))
      }
    } else {
      val all = listMetadata(metaDir, f)
      require(all.nonEmpty, s"not an iceberg table (no *.metadata.json under $metaDir)")
      // version prefix: v3.metadata.json or 00003-<uuid>.metadata.json
      def version(p: Path): Long = {
        val n = p.getName.stripSuffix(".metadata.json")
        val digits = (if (n.startsWith("v")) n.drop(1) else n.takeWhile(_.isDigit))
        digits.takeWhile(_.isDigit) match { case "" => -1L; case d => d.toLong }
      }
      all.maxBy(version).toString
    }
  }

  private def listMetadata(metaDir: String, f: FileSystem): Seq[Path] =
    f.listStatus(new Path(metaDir)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))

  /** Resolve a path from the metadata against the table location (paths
    * in real tables are absolute URIs; relative ones resolve here). */
  private def resolve(p: String, table: String): String =
    if (p.contains("://") || p.startsWith("/")) p
    else table.stripSuffix("/") + "/" + p

  /** The metadata's current schema node: `current-schema-id` into
    * `schemas` (v2), else the inline `schema` (v1). */
  private[readers] def currentSchemaNode(meta: JsonNode): Option[JsonNode] = {
    import scala.jdk.CollectionConverters._
    val byId = for {
      id <- Option(meta.get("current-schema-id")).map(_.asInt())
      ss <- Option(meta.get("schemas"))
      s <- ss.elements().asScala.find(s => Option(s.get("schema-id")).exists(_.asInt() == id))
    } yield s
    byId.orElse(Option(meta.get("schema")))
      .orElse(Option(meta.get("schemas")).flatMap(_.elements().asScala.toSeq.lastOption))
  }

  /** Iceberg schema JSON → Spark StructType carrying `parquet.field.id`
    * metadata, the key Spark's parquet reader matches columns by when
    * `spark.sql.parquet.fieldId.read.enabled` is on. This is how
    * renames resolve: the spec evolves schemas by field id, never by
    * name, so a by-name read of a renamed column silently nulls it. */
  private[readers] def toSparkSchema(schemaNode: JsonNode): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def prim(s: String): DataType = s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "string" => StringType
      case "binary" => BinaryType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case d if d.startsWith("decimal(") =>
        val Array(p, sc) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, sc)
      case fx if fx.startsWith("fixed[") => BinaryType
      case other => // uuid, time, unknown future types
        throw new IllegalArgumentException(s"iceberg type '$other' outside the supported profile")
    }
    def convert(t: JsonNode, inCollection: Boolean): DataType =
      if (t.isTextual) prim(t.asText())
      else Option(t.get("type")).map(_.asText()) match {
        case Some("struct") =>
          StructType(t.get("fields").elements().asScala
            .map(structField(_, inCollection)).toArray)
        case Some("list") =>
          ArrayType(convert(t.get("element"), inCollection = true),
            !Option(t.get("element-required")).exists(_.asBoolean()))
        case Some("map") =>
          MapType(convert(t.get("key"), inCollection = true),
            convert(t.get("value"), inCollection = true),
            !Option(t.get("value-required")).exists(_.asBoolean()))
        case other => throw new IllegalArgumentException(s"iceberg: unsupported nested type $other")
      }
    def structField(f: JsonNode, inCollection: Boolean): StructField = {
      // v3 default values: a field with initial-default must read that
      // value for rows in files written BEFORE the field existed — a
      // by-id scan would fabricate null there, a silent wrong answer.
      // Round 12 SERVES top-level primitive defaults; round 15 extends
      // that to STRUCT-nested primitives (the read path's footer
      // grouping walks nested parquet groups and overlays via
      // withField). Defaults inside list/map subtrees keep refusing —
      // per-ELEMENT presence has no footer-level answer, and
      // fabricated nulls there would be silently wrong.
      require(!inCollection || !f.hasNonNull("initial-default"),
        s"iceberg: field '${f.get("name").asText()}' inside a list/map carries " +
          "initial-default — outside this native reader's profile (top-level and " +
          "struct-nested defaults serve); read the table with the iceberg-spark " +
          "connector jar")
      StructField(f.get("name").asText(), convert(f.get("type"), inCollection),
        nullable = !Option(f.get("required")).exists(_.asBoolean()),
        new MetadataBuilder().putLong("parquet.field.id", f.get("id").asLong()).build())
    }
    StructType(schemaNode.get("fields").elements().asScala
      .map(structField(_, inCollection = false)).toArray)
  }

  /** Every `initial-default`-carrying field reachable through STRUCT
    * nesting: (path from the root, field id, ancestor STRUCT ids
    * outermost-first, iceberg type text, default text). Collection
    * subtrees never contribute (toSparkSchema refuses defaults there). */
  private[readers] def defaultFieldsOf(schemaNode: JsonNode):
      Seq[(Seq[String], Int, Seq[Int], String, String)] = {
    import scala.jdk.CollectionConverters._
    def walk(fields: Seq[JsonNode], path: Seq[String], ancestors: Seq[Int]):
        Seq[(Seq[String], Int, Seq[Int], String, String)] =
      fields.flatMap { f =>
        val name = f.get("name").asText()
        val id = f.get("id").asInt()
        val t = f.get("type")
        val here =
          if (!f.hasNonNull("initial-default")) Nil
          else {
            require(t.isTextual && t.asText() != "binary" && !t.asText().startsWith("fixed"),
              s"iceberg: initial-default on field '$name' of type $t — only primitive " +
                "(non-binary) defaults serve in this native reader; read the table " +
                "with the iceberg-spark connector jar")
            Seq((path :+ name, id, ancestors, t.asText(), f.get("initial-default").asText()))
          }
        val below =
          if (!t.isTextual && Option(t.get("type")).exists(_.asText() == "struct"))
            walk(t.get("fields").elements().asScala.toSeq, path :+ name, ancestors :+ id)
          else Nil
        here ++ below
      }
    walk(Option(schemaNode.get("fields")).toSeq.flatMap(_.elements().asScala), Nil, Nil)
  }

  /** Time travel by timestamp: the latest snapshot whose `timestamp-ms`
    * is <= the instant (Iceberg's own `as-of-timestamp` semantics — the
    * snapshot log lives in the metadata, no file mtimes involved). */
  def readAsOfTimestamp(spark: SparkSession, table: String, timestampMs: Long,
      filter: Option[String] = None,
      maxManifestEntries: Long = DefaultMaxManifestEntries,
      schemaOnly: Boolean = false): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta: JsonNode = new ObjectMapper().readTree(readText(
      graft.plans.SnapshotPin.pin(s"iceberg:$table")(currentMetadataPath(table, conf)), conf))
    import scala.jdk.CollectionConverters._
    // snapshot-log is the table's HISTORY — staged (WAP) or rolled-back
    // snapshots linger in `snapshots` until expiry but were never
    // current, and must not be returned for "the table as of t"; fall
    // back to snapshots[].timestamp-ms only when no log exists
    val fromLog = Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala)
      .map(e => e.get("snapshot-id").asLong() -> e.get("timestamp-ms").asLong())
    val snaps =
      if (fromLog.nonEmpty) fromLog
      else Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
        .flatMap(s => Option(s.get("timestamp-ms")).map(ts => s.get("snapshot-id").asLong() -> ts.asLong()))
    val eligible = snaps.filter(_._2 <= timestampMs)
    require(eligible.nonEmpty,
      s"iceberg: no snapshot at or before timestamp $timestampMs (earliest is ${snaps.map(_._2).minOption.getOrElse(-1L)})")
    read(spark, table, snapshotId = Some(eligible.maxBy(_._2)._1), filter = filter,
      maxManifestEntries = maxManifestEntries, schemaOnly = schemaOnly)
  }

  /** Read the current snapshot, or a pinned one (`snapshotId` — time
    * travel over snapshots still referenced by the metadata).
    *
    * `filter` (optional ANSI SQL boolean over the table's columns)
    * drives planning-time file skipping — the spec's "Scan Planning"
    * behavior, and the 100 TB lever the connector jars have: whole DATA
    * manifests are skipped from the manifest list's `partitions`
    * summaries (identity-transform fields, primitive bounds decoded per
    * the spec's single-value serialization) without being read, and the
    * surviving entries prune per-file on `data_file.partition` values.
    * Delete manifests are never skipped (their rows can only remove
    * data we keep). The full filter re-applies to the returned
    * DataFrame, so the result always equals `read(...).where(filter)`.
    * Note for date/timestamp columns: manifest-level skipping compares
    * typed literals (`ds = DATE '2024-01-01'`); a bare string literal
    * falls through to the exact per-file evaluation, which casts. */
  /** Deferred-scan frame over the table: manifest/file skipping fires
    * automatically from whatever filters the QUERY puts above it — a
    * `.where()`, `spark.sql` over a temp view, `Catalog.sql` — with no
    * filter string threaded by hand (see [[graft.plans.DeferredScan]]).
    * The table is validated eagerly; each query then plans against the
    * CURRENT snapshot unless pinned. */
  def table(spark: SparkSession, table: String, snapshotId: Option[Long] = None,
      timestampMs: Option[Long] = None,
      maxManifestEntries: Long = DefaultMaxManifestEntries): DataFrame = {
    def run(filterSql: Option[String], schemaOnly: Boolean): DataFrame = timestampMs match {
      case Some(ts) => readAsOfTimestamp(spark, table, ts, filterSql, maxManifestEntries, schemaOnly)
      case None     => read(spark, table, snapshotId, filterSql, maxManifestEntries, schemaOnly)
    }
    graft.plans.DeferredScan.frame(spark, s"iceberg $table",
      () => run(None, schemaOnly = true), fs => run(fs, schemaOnly = false))
  }

  /** Incremental batch read (adds-only; the Delta `readChangesSince`
    * twin, VERDICT r10 #2 extended to Iceberg): rows of every data file
    * that became live in snapshots AFTER `sinceSnapshotId` along the
    * current ancestry chain and is STILL live at head, tagged
    * `_snapshot_id` (the snapshot that added its file) and
    * `_committed_at` (that snapshot's timestamp-ms). Matches the
    * connector's incremental APPEND scan semantics:
    *
    *  - per-snapshot adds come from LIVE-SET DIFFERENCES between
    *    consecutive ancestors (exact by definition, and served almost
    *    entirely from the immutable manifest caches);
    *  - `summary.operation`: `append` snapshots contribute their adds;
    *    `replace` (compaction) snapshots contribute nothing — their new
    *    files carry OLD rows — but a replace that rewrites an IN-WINDOW
    *    add refuses loudly (those arrivals moved to files an adds-only
    *    read must skip); `delete` snapshots retract in-window adds;
    *    `overwrite` refuses (rewritten rows are unattributable);
    *  - `sinceSnapshotId` must be an ancestor of head — a rollback or
    *    expired snapshot refuses loudly naming a re-baseline;
    *  - `sinceSnapshotId = -1` means "from the root" (every live file).
    */
  /** Iceberg's METADATA TABLES (`SELECT * FROM tbl$history` etc.) as a
    * reader call — the inspection surface every Iceberg user leans on.
    * Driver-metadata kinds (`history`, `snapshots`, `refs`,
    * `manifests`) come from the tiny metadata json / manifest-list
    * Avros as LocalRelations; `files` and `partitions` are
    * DISTRIBUTED scans over the data manifests (a 100 TB table's file
    * listing is itself big data), with delete manifests listed too
    * (content 1/2) for `files`. */
  def metadataTable(spark: SparkSession, table: String, kind: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    val meta: JsonNode = new ObjectMapper().readTree(
      readText(currentMetadataPath(table, conf), conf))
    val snaps = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala).toSeq
    val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
    val curId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
    def local(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
    def currentManifests(): Seq[(String, Long, Int, Boolean, String)] =
      curId.flatMap(byId.get).toSeq.flatMap(s =>
        manifestListRowsOf(spark, s.get("manifest-list").asText(), table))
    // one distributed frame over the current snapshot's data or delete
    // manifests (loaded separately — their Avro schemas differ)
    def filesFrame(wantDeletes: Boolean): Option[DataFrame] = {
      val paths = currentManifests().filter(_._4 == wantDeletes).map(_._1).distinct
      if (paths.isEmpty) None
      else {
        val m = scanClone(spark).read.format(AvroFmt).load(paths: _*)
        val cols = m.select("data_file.*").columns.toSet
        Some(m.where("status != 2").selectExpr(
          if (cols.contains("content")) "data_file.content as content"
          else s"${if (wantDeletes) 1 else 0} as content",
          "data_file.file_path as file_path",
          "lower(data_file.file_format) as file_format",
          "data_file.record_count as record_count",
          "data_file.file_size_in_bytes as file_size_in_bytes",
          if (cols.contains("partition")) "to_json(data_file.partition) as partition"
          else "cast(null as string) as partition"))
      }
    }
    kind.toLowerCase match {
      case "history" =>
        // is_current_ancestor: on the parent chain of the current
        // snapshot (rolled-back branches list false — iceberg's shape)
        val ancestors = {
          var acc = Set.empty[Long]
          var at = curId
          while (at.isDefined) {
            acc += at.get
            at = byId.get(at.get).flatMap(s =>
              Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong()))
          }
          acc
        }
        val rows = Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala)
          .map { e =>
            val id = e.get("snapshot-id").asLong()
            Row(new java.sql.Timestamp(e.get("timestamp-ms").asLong()), id,
              byId.get(id).flatMap(s => Option(s.get("parent-snapshot-id"))
                .filterNot(_.isNull).map(l => java.lang.Long.valueOf(l.asLong()))).orNull,
              ancestors.contains(id))
          }.toSeq
        local(StructType(Seq(
          StructField("made_current_at", TimestampType),
          StructField("snapshot_id", LongType),
          StructField("parent_id", LongType),
          StructField("is_current_ancestor", BooleanType))), rows)
      case "snapshots" =>
        val rows = snaps.map { s =>
          Row(new java.sql.Timestamp(Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)),
            s.get("snapshot-id").asLong(),
            Option(s.get("parent-snapshot-id")).filterNot(_.isNull)
              .map(l => java.lang.Long.valueOf(l.asLong())).orNull,
            Option(s.get("summary")).flatMap(su => Option(su.get("operation")))
              .map(_.asText()).orNull,
            Option(s.get("manifest-list")).map(_.asText()).orNull,
            Option(s.get("summary")).map(su => su.properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String]))
        }
        local(StructType(Seq(
          StructField("committed_at", TimestampType),
          StructField("snapshot_id", LongType),
          StructField("parent_id", LongType),
          StructField("operation", StringType),
          StructField("manifest_list", StringType),
          StructField("summary", MapType(StringType, StringType)))), rows)
      case "refs" =>
        val rows = Option(meta.get("refs")).toSeq
          .flatMap(_.properties().asScala).map { e =>
            Row(e.getKey,
              Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch"),
              e.getValue.get("snapshot-id").asLong())
          }
        local(StructType(Seq(
          StructField("name", StringType),
          StructField("type", StringType),
          StructField("snapshot_id", LongType))), rows)
      case "manifests" =>
        val rows = currentManifests().map { case (p, seq, specId, isDel, _) =>
          Row(p, if (isDel) 1 else 0, seq, specId)
        }
        local(StructType(Seq(
          StructField("path", StringType),
          StructField("content", IntegerType),
          StructField("sequence_number", LongType),
          StructField("partition_spec_id", IntegerType))), rows)
      case "files" =>
        val data = filesFrame(wantDeletes = false)
        val dels = filesFrame(wantDeletes = true)
        (data.toSeq ++ dels.toSeq).reduceOption(_ unionByName _).getOrElse(
          local(StructType(Seq(
            StructField("content", IntegerType),
            StructField("file_path", StringType),
            StructField("file_format", StringType),
            StructField("record_count", LongType),
            StructField("file_size_in_bytes", LongType),
            StructField("partition", StringType))), Nil))
      case "partitions" =>
        filesFrame(wantDeletes = false) match {
          case Some(df) => df.groupBy("partition")
            .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("file_count"),
              org.apache.spark.sql.functions.sum("record_count").as("record_count"),
              org.apache.spark.sql.functions.sum("file_size_in_bytes").as("total_size_in_bytes"))
          case None => local(StructType(Seq(
            StructField("partition", StringType),
            StructField("file_count", LongType),
            StructField("record_count", LongType),
            StructField("total_size_in_bytes", LongType))), Nil)
        }
      case other => throw new IllegalArgumentException(
        s"iceberg metadataTable: unknown kind '$other' " +
          "(history | snapshots | refs | manifests | files | partitions)")
    }
  }

  def readChangesSince(spark: SparkSession, table: String, sinceSnapshotId: Long,
      filter: Option[String] = None,
      maxManifestEntries: Long = DefaultMaxManifestEntries): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta: JsonNode = new ObjectMapper().readTree(readText(
      currentMetadataPath(table, conf), conf))
    import scala.jdk.CollectionConverters._
    val snapsById: Map[Long, JsonNode] =
      Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
        .map(s => s.get("snapshot-id").asLong() -> s).toMap
    val head = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
      .getOrElse(throw new IllegalArgumentException(
        "iceberg: table has no current snapshot (empty table)"))
    def emptyChanges(): DataFrame = {
      val base = read(spark, table, None, None, maxManifestEntries, schemaOnly = true)
      import org.apache.spark.sql.functions.lit
      base.withColumn("_snapshot_id", lit(null).cast("bigint"))
        .withColumn("_committed_at", lit(null).cast("timestamp"))
        .where(lit(false))
    }
    if (sinceSnapshotId == head) return emptyChanges()
    // ancestry chain head → since (exclusive), then walked ascending
    var chain: List[JsonNode] = Nil
    var cursor: Option[Long] = Some(head)
    while (cursor.isDefined && !cursor.contains(sinceSnapshotId)) {
      val s = snapsById.getOrElse(cursor.get, throw new IllegalArgumentException(
        s"iceberg: snapshot ${cursor.get} on the ancestry chain is no longer in the " +
          s"metadata (expired) — cannot serve changes since $sinceSnapshotId; " +
          "re-baseline with a full read"))
      chain ::= s
      cursor = Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong())
    }
    require(cursor.contains(sinceSnapshotId) || sinceSnapshotId == -1L,
      s"iceberg: snapshot $sinceSnapshotId is not an ancestor of the current snapshot " +
        s"$head (rolled back, branched, or never existed) — re-baseline with a full read")
    val tableFs = fs(table, conf)
    def op(s: JsonNode): String = Option(s.get("summary"))
      .flatMap(su => Option(su.get("operation"))).map(_.asText()).getOrElse("append")
    chain.foreach { s =>
      val o = op(s)
      require(Set("append", "replace", "delete").contains(o),
        s"iceberg: snapshot ${s.get("snapshot-id")} has operation '$o' — an adds-only " +
          "changes read cannot attribute its rows; re-baseline with a full read")
    }
    var prev: Set[String] = cursor match {
      case Some(sid) => liveDataPaths(spark, table, tableFs, snapsById(sid), maxManifestEntries)
      case None      => Set.empty // since = -1 at the root
    }
    val addVer = scala.collection.mutable.HashMap[String, (Long, Long)]()
    chain.foreach { s =>
      val sid = s.get("snapshot-id").asLong()
      val ts = Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)
      val cur = liveDataPaths(spark, table, tableFs, s, maxManifestEntries)
      val o = op(s)
      (prev -- cur).foreach { p =>
        if (addVer.contains(p)) {
          // a replace rewriting an IN-WINDOW add moves those arrivals
          // into files this read skips — refusing beats losing them
          require(o != "replace",
            s"iceberg: changes since $sinceSnapshotId unservable — file '$p' (added at " +
              s"snapshot ${addVer(p)._1}) was compacted away by replace snapshot $sid; " +
              "re-baseline with a full read")
          addVer.remove(p) // a delete: the rows were retracted before head
        }
      }
      if (o == "append" || o == "delete") (cur -- prev).foreach(p => addVer(p) = (sid, ts))
      prev = cur
    }
    if (addVer.isEmpty) emptyChanges()
    else read(spark, table, None, filter, maxManifestEntries, changes = Some(addVer.toMap))
  }

  /** Row-level CHANGE FEED over the snapshot ancestry (round 12, the
    * Delta `readChangeFeed` twin; the connector's changelog-scan
    * surface): output = the table columns + `_change_type`
    * (insert | delete) + `_snapshot_id` + `_committed_at`. Per
    * ancestry step the LIVE-SET DIFF labels rows:
    *
    *  - `append` snapshots: added files' rows → insert;
    *  - `delete` snapshots: removed files' rows → delete (read from
    *    the still-present files — expired/vacuumed refuses naming a
    *    re-baseline);
    *  - `overwrite` (merge / delete-where / replaceWhere rewrites):
    *    removed files → delete AND added files → insert — the exact
    *    row-multiset effect, the Delta feed's cdc-less derivation (an
    *    update surfaces as its delete+insert pair);
    *  - `replace` (compaction) contributes NOTHING — its files carry
    *    already-reported rows. Unlike the adds-only read, a replace of
    *    an in-window add is FINE here: those rows were reported from
    *    their original files, which remain on disk until expiry.
    *
    * Gates: delete MANIFESTS anywhere in the window refuse (file-level
    * diffs cannot see row-level delete-file effects); a mid-window
    * schema whose fields are not an (id, type)-subset of the head's
    * refuses (the head schema serves — renames are id-stable, added
    * columns null out on old files). Scale shape: the driver walks
    * manifest metadata only; each (snapshot, kind) group is ONE scan. */
  def readChangeFeed(spark: SparkSession, table: String, sinceSnapshotId: Long,
      filter: Option[String] = None,
      maxManifestEntries: Long = DefaultMaxManifestEntries,
      // bounded-window form (the streaming source's batch contract):
      // the walk ends at this snapshot instead of the current head
      endSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_millis}
    val conf = spark.sparkContext.hadoopConfiguration
    val meta: JsonNode = new ObjectMapper().readTree(readText(
      currentMetadataPath(table, conf), conf))
    import scala.jdk.CollectionConverters._
    val snapsById: Map[Long, JsonNode] =
      Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
        .map(s => s.get("snapshot-id").asLong() -> s).toMap
    endSnapshotId.foreach(e => require(snapsById.contains(e),
      s"iceberg: change feed endSnapshotId $e is not listed at $table (expired?)"))
    val head = endSnapshotId.getOrElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
        .getOrElse(throw new IllegalArgumentException(
          "iceberg: table has no current snapshot (empty table)")))
    val headSchema = currentSchemaNode(meta).map(toSparkSchema).getOrElse(
      throw new IllegalArgumentException(s"iceberg: $table has no schema in its metadata"))
    // the feed scans group files DIRECTLY (they may be dead at head),
    // so the full read's initial-default overlay and name-mapping
    // resolution do not run here — serving either silently (defaults
    // as nulls, id-less files all-null) would be a wrong answer
    require(currentSchemaNode(meta).toSeq.flatMap(defaultFieldsOf).isEmpty,
      s"iceberg: change feed over a table with initial-default values (top-level or " +
        "struct-nested) — outside this native reader's feed profile; read with the " +
        "iceberg-spark connector")
    require(Option(meta.get("properties"))
        .flatMap(p => Option(p.get("schema.name-mapping.default"))).forall(_.isNull),
      s"iceberg: change feed over a name-mapped table — id-less files would read " +
        "all-null; read with the iceberg-spark connector")
    def emptyFeed(): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], headSchema)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_snapshot_id", lit(null).cast("bigint"))
        .withColumn("_committed_at", lit(null).cast("timestamp"))
        .where(lit(false))
    if (sinceSnapshotId == head) return emptyFeed()
    var chain: List[JsonNode] = Nil
    var cursor: Option[Long] = Some(head)
    while (cursor.isDefined && !cursor.contains(sinceSnapshotId)) {
      val s = snapsById.getOrElse(cursor.get, throw new IllegalArgumentException(
        s"iceberg: snapshot ${cursor.get} on the ancestry chain is no longer in the " +
          s"metadata (expired) — cannot serve the change feed since $sinceSnapshotId; " +
          "re-baseline with a full read"))
      chain ::= s
      cursor = Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong())
    }
    require(cursor.contains(sinceSnapshotId) || sinceSnapshotId == -1L,
      s"iceberg: snapshot $sinceSnapshotId is not an ancestor of the current snapshot " +
        s"$head (rolled back, branched, or never existed) — re-baseline with a full read")
    val tableFs = fs(table, conf)
    // file-level diffs cannot express row-level delete-file effects —
    // a window touching delete manifests refuses loudly
    (cursor.toSeq.map(snapsById) ++ chain).foreach { s =>
      val refs = manifestListRowsOf(spark, s.get("manifest-list").asText(), table)
      require(refs.forall(!_._4),
        s"iceberg: change feed since $sinceSnapshotId unservable — snapshot " +
          s"${s.get("snapshot-id")} carries delete manifests (row-level deletes are " +
          "invisible to a file-level diff); read with the iceberg-spark connector")
    }
    // schema gate: serve under the HEAD schema; every in-window schema
    // must be an (id, type)-subset of it (renames are id-stable, head
    // may append columns — old files null them by id)
    val headById: Map[Long, String] = headSchema.fields.map(f =>
      f.metadata.getLong("parquet.field.id") -> f.dataType.catalogString).toMap
    val schemasById: Map[Int, JsonNode] = Option(meta.get("schemas")).toSeq
      .flatMap(_.elements().asScala)
      .map(s => Option(s.get("schema-id")).map(_.asInt()).getOrElse(0) -> s).toMap
    chain.foreach { s =>
      Option(s.get("schema-id")).filterNot(_.isNull).map(_.asInt())
        .flatMap(schemasById.get).foreach { sn =>
          val ok = scala.util.Try {
            toSparkSchema(sn).fields.forall(f =>
              headById.get(f.metadata.getLong("parquet.field.id"))
                .contains(f.dataType.catalogString))
          }.getOrElse(false)
          require(ok,
            s"iceberg: change feed since $sinceSnapshotId unservable — snapshot " +
              s"${s.get("snapshot-id")}'s schema is not an id-compatible subset of the " +
              "current one; re-baseline with a full read")
        }
    }
    def op(s: JsonNode): String = Option(s.get("summary"))
      .flatMap(su => Option(su.get("operation"))).map(_.asText()).getOrElse("append")
    var prev: Set[String] = cursor match {
      case Some(sid) => liveDataPaths(spark, table, tableFs, snapsById(sid), maxManifestEntries)
      case None      => Set.empty
    }
    case class Group(sid: Long, tsMs: Long, kind: String, paths: Seq[String])
    val groups = Seq.newBuilder[Group]
    chain.foreach { s =>
      val sid = s.get("snapshot-id").asLong()
      val ts = Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)
      val cur = liveDataPaths(spark, table, tableFs, s, maxManifestEntries)
      if (op(s) != "replace") {
        val adds = (cur -- prev).toSeq.sorted
        val removes = (prev -- cur).toSeq.sorted
        removes.foreach { p =>
          require(tableFs.exists(new Path(resolve(p, table))),
            s"iceberg: change feed since $sinceSnapshotId unservable — snapshot $sid " +
              s"removed '$p' and the file is gone (expired); re-baseline with a full read")
        }
        if (adds.nonEmpty) groups += Group(sid, ts, "insert", adds)
        if (removes.nonEmpty) groups += Group(sid, ts, "delete", removes)
      }
      prev = cur
    }
    val gs = groups.result()
    if (gs.isEmpty) return emptyFeed()
    val scanSession = scanClone(spark)
    val frames = gs.map { g =>
      scanSession.read.schema(headSchema).parquet(g.paths.map(p => resolve(p, table)): _*)
        .withColumn("_change_type", lit(g.kind))
        .withColumn("_snapshot_id", lit(g.sid))
        .withColumn("_committed_at", timestamp_millis(lit(g.tsMs)))
    }
    val ordered = headSchema.fieldNames.toSeq ++
      Seq("_change_type", "_snapshot_id", "_committed_at")
    val out = frames.map(_.select(ordered.map(col): _*)).reduce(_ unionByName _)
    filter.map(fsql => out.where(expr(fsql))).getOrElse(out)
  }

  def read(spark: SparkSession, table: String, snapshotId: Option[Long] = None,
      filter: Option[String] = None,
      maxManifestEntries: Long = DefaultMaxManifestEntries,
      schemaOnly: Boolean = false,
      changes: Option[Map[String, (Long, Long)]] = None,
      snapshotSchema: Boolean = true,
      ref: Option[String] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // pinned per planning pass: sibling legs of one query (self-join)
    // resolve the same metadata file — one snapshot per query — even if
    // a writer commits mid-planning; across queries each pass re-probes
    val metaPath = graft.plans.SnapshotPin.pin(s"iceberg:$table")(
      currentMetadataPath(table, conf))
    val meta: JsonNode = new ObjectMapper().readTree(readText(metaPath, conf))
    // v3 (round 11): supported for the DELETION-VECTOR profile — puffin
    // DVs decode and apply like position deletes (the serialization is
    // Delta's, by design); v3 features that would silently corrupt a
    // naive read refuse at their use sites (initial-default values in
    // toSparkSchema, new types in prim, parquet position-delete files
    // below — v3 forbids them, so their presence means a broken writer)
    val formatVersion = Option(meta.get("format-version")).map(_.asInt()).getOrElse(1)
    require(formatVersion >= 1 && formatVersion <= 3,
      s"iceberg format-version $formatVersion outside the supported profile (1-3)")
    // named ref (spec `refs`): resolve tag/branch → snapshot id. TAG
    // reads use the snapshot's own schema (an immutable label on the
    // past); BRANCH reads use the table's CURRENT schema (a branch
    // receives future writes) — Iceberg's documented split.
    require(ref.isEmpty || snapshotId.isEmpty,
      "iceberg: give one of ref / snapshotId, not both")
    import scala.jdk.CollectionConverters._
    val refResolved: Option[(Long, Boolean)] = ref.map { name =>
      val r = Option(meta.get("refs")).flatMap(rs => Option(rs.get(name)))
        .filterNot(_.isNull).getOrElse(throw new IllegalArgumentException(
          s"iceberg: no ref '$name' at $table" + Option(meta.get("refs")).map(rs =>
            s" (have: ${rs.fieldNames().asScala.mkString(", ")})").getOrElse("")))
      (r.get("snapshot-id").asLong(),
        Option(r.get("type")).map(_.asText()).getOrElse("branch") == "tag")
    }
    val currentId = snapshotId.orElse(refResolved.map(_._1)).getOrElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong())
        .filter(_ != -1L)
        .getOrElse(throw new IllegalArgumentException("iceberg: table has no current snapshot (empty table)")))
    val snapshots = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
    val snap = snapshots.find(s => s.get("snapshot-id").asLong() == currentId)
      .getOrElse(throw new IllegalArgumentException(s"iceberg: snapshot $currentId not in metadata"))
    // an EXPLICIT time travel (and a TAG ref) reads under the
    // snapshot's OWN schema (the spec binds each snapshot to a
    // schema-id; Delta's versionAsOf replays historical metadata the
    // same way) — live reads, branch refs, and snapshots predating
    // schema tracking keep the current schema
    val pinSchema = (snapshotId.isDefined && snapshotSchema) || refResolved.exists(_._2)
    val schemaNode: Option[JsonNode] = {
      val pinned = for {
        _ <- Some(()) if pinSchema
        sid <- Option(snap.get("schema-id")).filterNot(_.isNull).map(_.asInt())
        ss <- Option(meta.get("schemas"))
        s <- ss.elements().asScala.find(x => Option(x.get("schema-id")).exists(_.asInt() == sid))
      } yield s
      pinned.orElse(currentSchemaNode(meta))
    }

    // deferred registration probe: metadata + snapshot validated; stop
    // BEFORE any manifest or data file is touched — the first query's
    // filter decides which manifests may be opened at all. A metadata
    // without a schema node (pathological early-v1) falls through to
    // the full walk, whose merged-schema read is the only schema source.
    if (schemaOnly) {
      schemaNode.map(toSparkSchema) match {
        case Some(st) =>
          return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        case None => () // fall through to the full walk
      }
    }

    // ---- filter metadata: partition specs + schema field ids ---------
    // (drives file skipping below; empty/ignored when no filter given)
    val filterConjs = filter.toSeq.flatMap(FileSkipping.conjuncts)
    // primitive schema fields by id: id → (name, iceberg type string)
    val schemaFieldById: Map[Int, (String, String)] = schemaNode.toSeq
      .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala))
      .filter(fld => fld.get("type").isTextual)
      .map(fld => fld.get("id").asInt() -> (fld.get("name").asText(), fld.get("type").asText()))
      .toMap
    case class PartFieldDef(name: String, sourceId: Int, transform: String)
    def specFields(arr: JsonNode): Seq[PartFieldDef] =
      Option(arr).toSeq.flatMap(_.elements().asScala).map(fld =>
        PartFieldDef(fld.get("name").asText(), fld.get("source-id").asInt(), fld.get("transform").asText()))
    val specsById: Map[Int, Seq[PartFieldDef]] = {
      val v2 = Option(meta.get("partition-specs")).toSeq.flatMap(_.elements().asScala)
        .map(sp => Option(sp.get("spec-id")).map(_.asInt()).getOrElse(0) -> specFields(sp.get("fields"))).toMap
      if (v2.nonEmpty) v2 else Map(0 -> specFields(meta.get("partition-spec")))
    }
    // identity-transform partition fields: field name → (source column,
    // iceberg type); only pruned on when every spec agrees (a field name
    // reused with a different source/transform across specs is dropped)
    val identityByField: Map[String, (String, String)] = {
      val all = specsById.values.flatten.filter(_.transform == "identity")
        .flatMap(pf => schemaFieldById.get(pf.sourceId).map(pf.name -> _)).toSeq
      all.groupBy(_._1).collect { case (n, vs) if vs.map(_._2).distinct.size == 1 => n -> vs.head._2 }
    }
    // shared transform machinery for manifest-level AND per-file
    // pruning: reduce a source-column conjunct to the partition-ordinal
    // domain when the transform allows it. Bucket admits equality only
    // (a hash preserves no order); the order-preserving transforms
    // (identity, truncate, year/month/day/hour) admit ranges with
    // strict ops relaxed (`ts > v` implies `day(ts) >= day(v)`).
    val bucketRe = IcebergTransforms.BucketRe
    val truncRe = "truncate\\[(\\d+)\\]".r
    def parseTransform(t: String): Option[(String, Int)] = t match {
      case "identity"                        => Some(("identity", 0))
      case bucketRe(n)                       => Some(("bucket", n.toInt))
      case truncRe(w)                        => Some(("truncate", w.toInt))
      case "year" | "month" | "day" | "hour" => Some((t, 0))
      case _                                 => None
    }
    def deriveCmp(c: FileSkipping.Cmp, kind: String, arg: Int,
        srcType: String): Option[FileSkipping.Cmp] = {
      // the literals must live in the SOURCE type's raw comparison
      // domain — a date column tested against a timestamp literal would
      // compare days to micros and derive a WRONG exclusion (Spark's
      // own residual evaluation coerces; this raw path must fail open)
      if (!FileSkipping.literalsMatch(c, srcType)) return None
      if (kind == "identity") return Some(c)
      if (kind == "bucket" && c.op != "=") return None
      def tl(v: Any): Option[Any] = kind match {
        case "bucket"   => IcebergTransforms.bucketOf(v, arg).map(_.toLong)
        case "truncate" => IcebergTransforms.truncateOf(v, arg)
        case k          => IcebergTransforms.temporalOf(v, srcType, k)
      }
      import org.apache.spark.sql.catalyst.expressions.Literal
      val lits = c.values.map(l => FileSkipping.literalValue(l).flatMap(tl).flatMap {
        case x: Long   => Some(Literal(x))
        case s: String => Some(Literal(s))
        case _         => None
      })
      if (lits.exists(_.isEmpty)) None
      else {
        val op = c.op match { case ">" => ">="; case "<" => "<="; case o => o }
        Some(FileSkipping.Cmp(c.name, op, lits.flatten))
      }
    }
    // the TYPE the transform's partition values serialize as (drives
    // both binary-bound decode and JSON text parsing)
    def partitionTypeOf(kind: String, srcType: String): String = kind match {
      case "identity" | "truncate" => srcType
      case "day"                   => "date"
      case _                       => "int" // bucket, year, month, hour
    }

    // spec "single-value serialization": little-endian numerics, epoch
    // micros for timestamps (comparable against the type-guarded
    // literal domain; literalsMatch keeps days out), raw UTF-8 strings,
    // BIG-endian unscaled decimals; unknowns fail open — shared decode
    // lives in FileSkipping (the writer's detection pre-pruning uses it
    // too, so writer and pruner cannot drift)
    def decodeBound(node: JsonNode, icebergType: String): Option[Any] =
      FileSkipping.decodeIcebergBound(node, icebergType)

    val tableFs = fs(table, conf)
    // v2 (and most v1) snapshots point at a manifest list; early v1 may
    // inline the manifest paths directly. Each list row keeps its own
    // sequence_number (ADDED manifest entries store null and INHERIT it
    // — spec "Sequence Number Inheritance") and its content flag
    // (0 = data manifest, 1 = delete manifest), plus the partition spec
    // id and per-field partition summaries used for manifest skipping.
    val manifestList: Seq[ManifestListRow] = Option(snap.get("manifest-list")) match {
      case Some(ml) => manifestListRows(spark, resolve(ml.asText(), table), table)
      case None =>
        Option(snap.get("manifests")).toSeq.flatMap(_.elements().asScala).map(_.asText())
          .map(p => ManifestListRow(resolve(p, table), 0L, isDelete = false, 0, null, None))
    }
    require(manifestList.nonEmpty, s"iceberg: snapshot $currentId lists no manifests")

    case class Entry(status: Int, filePath: String, fileFormat: String, content: Int,
        seq: Long, equalityIds: Seq[Int], partitionJson: String,
        lowerJson: String, upperJson: String, specId: Int,
        refDataFile: Option[String] = None, contentOffset: Option[Long] = None,
        contentSize: Option[Long] = None, recordCount: Option[Long] = None)
    // Each manifest parses under its OWN Avro schema: a v1→v2-upgraded
    // table keeps old v1 data manifests (no entry seq, no
    // data_file.content) next to v2 delete manifests.
    //
    // Parsed rows are served from [[manifestCache]] when a prior query
    // already read the manifest — manifest Avro files are immutable, so
    // the cache never goes stale; a new snapshot simply lists a mix of
    // cached and fresh manifest paths. Sequence-number inheritance and
    // spec ids attach AFTER retrieval from the CURRENT manifest list
    // (they are properties of the reference, not the file).
    def loadEntries(refs: Seq[ManifestListRow]): Seq[Entry] = {
      if (refs.isEmpty) return Nil
      val distinctRefs = refs.distinctBy(_.path)
      val keyed = distinctRefs.map(m => m -> PathKeys.driverKey(m.path, tableFs))
      val hits: Map[String, Seq[ManifestRow]] =
        keyed.flatMap { case (_, k) => manifestCacheGet(k).map(k -> _) }.toMap
      val missRefs = keyed.filterNot { case (_, k) => hits.contains(k) }
      // the entry cap is a per-READ contract (refuse loudly past the
      // caller's bound, naming the connector) — it must hold even when
      // every manifest is a cache hit, not only on the cold path
      if (missRefs.isEmpty)
        require(hits.valuesIterator.map(_.length.toLong).sum <= maxManifestEntries,
          s"iceberg: ${hits.valuesIterator.map(_.length.toLong).sum} manifest entries exceed " +
            s"$maxManifestEntries — beyond this native reader's driver-state bound; " +
            "read it with the iceberg-spark connector jar on the classpath")
      // count before parsing: bounds driver memory BEFORE materializing.
      // The manifest-list's own file counts supply it for free; only a
      // count-less list pays a pass over the manifests' block headers.
      val fresh: Map[String, Seq[ManifestRow]] =
        if (missRefs.isEmpty) Map.empty
        else {
          val nMiss =
            if (missRefs.forall(_._1.entryCount.isDefined)) missRefs.flatMap(_._1.entryCount).sum
            else missRefs.map(m => IcebergManifestCodec.countEntries(m._1.path, conf)).sum
          val n = hits.valuesIterator.map(_.length.toLong).sum + nMiss
          require(n <= maxManifestEntries,
            s"iceberg: $n manifest entries exceed $maxManifestEntries — beyond this native reader's " +
              "driver-state bound; read it with the iceberg-spark connector jar on the classpath")
          // a zero-entry manifest caches too, or it re-reads forever
          missRefs.map { case (m, k) => k -> manifestRows(spark, tableFs, m.path) }.toMap
        }
      distinctRefs.flatMap { m =>
        val k = PathKeys.driverKey(m.path, tableFs)
        hits.getOrElse(k, fresh.getOrElse(k,
          throw new IllegalStateException(s"iceberg: manifest $k missing from the loaded set")))
          .map { re =>
            // per-entry sequence number: explicit, else inherited from
            // the entry's manifest reference (null is the normal Avro
            // encoding for entries ADDED in the manifest's own snapshot)
            Entry(re.status, re.filePath, re.fileFormat, re.content,
              re.seqOpt.getOrElse(m.seq), re.equalityIds, re.partitionJson,
              re.lowerJson, re.upperJson, m.specId,
              re.refDataFile, re.contentOffset, re.contentSize, re.recordCount)
          }
      }
    }
    val (deleteManifests, allDataManifests) = manifestList.partition(_.isDelete)
    // ---- manifest-level file skipping -------------------------------
    // A whole manifest is skipped — never read — when a filter
    // conjunct's range test excludes its `partitions` summary bounds for
    // an identity-transform field. This applies to DELETE manifests too
    // (round 9): a delete file is scoped to its own partition (position
    // deletes target data files in it; a PARTITIONED equality delete
    // applies only within it, the spec's rule — global equality deletes
    // carry an unpartitioned spec, whose summary has no fields and so
    // never excludes), so a delete manifest whose summary excludes the
    // filter can only remove rows the residual filter drops anyway.
    // Fail open on anything unexpected (missing summaries, unknown
    // types).
    def manifestExcluded(m: ManifestListRow): Boolean =
      filterConjs.nonEmpty && m.partitionsJson != null && scala.util.Try {
        val fields = specsById.getOrElse(m.specId, Nil)
        val summaries = new ObjectMapper().readTree(m.partitionsJson)
        val shapes = filterConjs.flatMap(FileSkipping.simpleShape)
        shapes.exists { shape =>
          fields.zipWithIndex.exists { case (pf, i) =>
            i < summaries.size() && parseTransform(pf.transform).exists { case (kind, arg) =>
              schemaFieldById.get(pf.sourceId).exists { case (srcName, srcType) =>
                srcName.equalsIgnoreCase(shape.name) && (shape match {
                  case c: FileSkipping.Cmp =>
                    // conjunct reduced to the partition-ordinal domain
                    // (identity passes through; bucket equality-only;
                    // order-preserving transforms admit ranges), tested
                    // against the summary's typed bounds
                    deriveCmp(c, kind, arg, srcType).exists { derived =>
                      val pt = partitionTypeOf(kind, srcType)
                      FileSkipping.rangeExcludes(derived,
                        decodeBound(summaries.get(i).get("lower_bound"), pt),
                        decodeBound(summaries.get(i).get("upper_bound"), pt))
                    }
                  case FileSkipping.NullTest(_, isNull) =>
                    // a null source value yields a null partition value
                    // under every transform, so `p IS NULL` excludes a
                    // manifest whose summary says contains_null=false;
                    // IS NOT NULL can't exclude (no all-null marker)
                    isNull && Option(summaries.get(i).get("contains_null"))
                      .exists(n => !n.isNull && !n.asBoolean())
                })
              }
            }
          }
        }
      }.getOrElse(false)
    val dataManifests = allDataManifests.filterNot(manifestExcluded)
    if (dataManifests.isEmpty && allDataManifests.nonEmpty) {
      // the filter excluded every data manifest (skip implies the
      // schema node exists) — return the empty result, typed, with the
      // changes tag columns when this is a changes read (its schema
      // must not vary with how much the filter pruned)
      val st = schemaNode.map(toSparkSchema).getOrElse(
        throw new IllegalStateException("iceberg: manifest skipping without a schema"))
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
      return changes.fold(base) { _ =>
        import org.apache.spark.sql.functions.lit
        base.withColumn("_snapshot_id", lit(null).cast("bigint"))
          .withColumn("_committed_at", lit(null).cast("timestamp"))
      }
    }
    val liveDeleteManifests = deleteManifests.filterNot(manifestExcluded)
    val entries = loadEntries(dataManifests) ++ loadEntries(liveDeleteManifests)
    val live = entries.filter(_.status != 2) // 2 = DELETED entry
    // content: 0 data, 1 position deletes (v3: puffin deletion
    // vectors), 2 equality deletes
    val (dataFiles, deleteFiles) = live.partition(_.content == 0)
    val (dvFiles, posDeleteFiles0) = deleteFiles.filter(_.content == 1)
      .partition(_.fileFormat == "puffin")
    val eqDeleteFiles0 = deleteFiles.filter(_.content == 2)
    val (supportedData, others) = dataFiles.partition(e => e.fileFormat == "parquet" || e.fileFormat == "orc")
    require(others.isEmpty,
      s"iceberg: data file formats (${others.map(_.fileFormat).distinct.mkString(",")}) outside the supported profile (parquet/orc)")
    require(supportedData.nonEmpty, s"iceberg: snapshot $currentId has no live data files")
    // delete files must be parquet (the overwhelming writer default) —
    // an ORC/Avro delete file misread as parquet would corrupt silently
    (posDeleteFiles0 ++ eqDeleteFiles0).foreach(e => require(e.fileFormat == "parquet",
      s"iceberg: ${e.fileFormat} delete files outside the supported profile"))
    // deletion vectors are a v3 feature and v3 FORBIDS parquet position
    // delete files (upgrades must rewrite them as DVs) — either
    // mismatch means a broken writer, where guessing silently
    // resurrects or double-deletes rows
    require(dvFiles.isEmpty || formatVersion >= 3,
      "iceberg: puffin deletion vectors in a v1/v2 table — outside the spec; refusing")
    require(formatVersion < 3 || posDeleteFiles0.isEmpty,
      "iceberg: parquet position delete files in a v3 table — the spec requires deletion " +
        "vectors; refusing a log this native reader cannot reconcile")
    dvFiles.foreach(e => require(
      e.refDataFile.isDefined && e.contentOffset.isDefined &&
        e.contentSize.isDefined && e.recordCount.isDefined,
      s"iceberg: deletion vector ${e.filePath} lacks referenced_data_file/content_offset/" +
        "content_size_in_bytes/record_count — cannot apply; refusing"))
    // Spark exposes _metadata.row_index for parquet only, so position
    // deletes cannot key rows inside ORC data files — letting them
    // silently miss would resurrect deleted rows; refuse the combination
    require((posDeleteFiles0.isEmpty && dvFiles.isEmpty) || !supportedData.exists(_.fileFormat == "orc"),
      "iceberg: position deletes with ORC data files outside the supported profile (no row_index metadata for ORC)")
    // schema.name-mapping.default (spec "Name Mapping Serialization"):
    // Hive migrate/add_files imports write data files WITHOUT field
    // ids; the mapping lists, per field id, the column name(s) such
    // files may use. Parsed here, applied after the footer inspection
    // below decides which files actually lack ids. Top-level fields
    // only (nested-struct inner renames stay outside the profile — they
    // null out, same as any by-name nested read).
    val nameMapping: Option[Map[Int, Seq[String]]] = Option(meta.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default"))).filterNot(_.isNull)
      .map { nm =>
        val arr = new ObjectMapper().readTree(nm.asText())
        arr.elements().asScala.toSeq.flatMap { e =>
          Option(e.get("field-id")).filterNot(_.isNull).map(fid =>
            fid.asInt() -> Option(e.get("names")).toSeq
              .flatMap(_.elements().asScala).map(_.asText()))
        }.toMap
      }
    // the mapping applies to ORC files too per the spec, but our ORC
    // scan is by-name with no per-file rename machinery — refuse the
    // combination instead of silently nulling renamed columns
    require(nameMapping.isEmpty || !supportedData.exists(_.fileFormat == "orc"),
      "iceberg: schema.name-mapping.default with ORC data files outside the supported profile")

    import org.apache.spark.sql.functions.{broadcast, col, concat, expr, lit, raise_error, regexp_replace, udf}
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^[a-zA-Z0-9+.-]+:/+", "/") // scheme-insensitive path compare
    // Column resolution per the Iceberg spec is by FIELD ID, not name:
    // the current schema (with parquet.field.id metadata) drives the
    // scan and Spark's field-id matcher resolves renames; files written
    // before a column was added lack its id → null (ignoreMissing).
    // Fallback when the metadata carries no schema: by-name with
    // mergeSchema. ORC data files (Hive-migration tables) read BY NAME
    // — Spark's ORC source has no field-id matcher, so column renames
    // don't resolve for them (documented profile caveat; adds/deletes
    // still behave).
    val sparkSchemaOpt = schemaNode.map(toSparkSchema)
    // Field-id parquet resolution is scoped to a SESSION CLONE instead
    // of mutating the caller's conf: a file relation keeps the session
    // it was created with (FileSourceScanExec builds its reader from
    // relation.sparkSession), so scans built here honor field-id
    // matching at execution no matter which session runs the query,
    // while the caller's own spark.read.parquet stays by-name. See
    // [[scanClone]] for what the clone carries (runtime confs +
    // user-registered functions) and the per-caller reuse.
    // Needed whenever a schema exists — equality-DELETE file reads use
    // field-id matching even when every data file is ORC.
    val scanSession: SparkSession =
      if (sparkSchemaOpt.isEmpty) spark else scanClone(spark)
    // ---- per-file partition pruning ---------------------------------
    // Exact evaluation of partition-only conjuncts against each data
    // file's `data_file.partition` tuple (identity fields; JSON keys
    // are the partition field names). Files without a readable tuple
    // are kept; a pruned-to-empty scan returns the typed empty result.
    def pruneIdentity(entries: Seq[Entry]): Seq[Entry] =
      if (filterConjs.isEmpty || identityByField.isEmpty || sparkSchemaOpt.isEmpty) entries
      else scala.util.Try {
        val flds = identityByField.toSeq.sortBy(_._1)
        val st = sparkSchemaOpt.get
        val partFields = flds.flatMap { case (_, (srcName, _)) =>
          st.fields.find(_.name == srcName)
            .map(sf => org.apache.spark.sql.types.StructField(srcName, sf.dataType))
        }
        if (partFields.size != flds.size) entries
        else {
          val om = new ObjectMapper()
          // a file written under an OLDER partition spec doesn't carry
          // the field at all — "value unknown" (the data file still has
          // the column), NOT "value null" — and must be kept. The JSON
          // can't distinguish the two (a mixed-spec Avro load resolves
          // an absent field to null), so the gate is the entry's OWN
          // manifest spec: only files whose spec DECLARES every identity
          // field may prune, and a null there genuinely means every
          // row's source value is null.
          val (withPj, withoutPj0) = entries.partition(_.partitionJson != null)
          val (complete, missingKey) = withPj.partition { e =>
            val ownFields = specsById.getOrElse(e.specId, Nil).map(_.name).toSet
            val node = om.readTree(e.partitionJson)
            flds.forall { case (fieldName, _) =>
              ownFields.contains(fieldName) && node.has(fieldName)
            }
          }
          val withoutPj = withoutPj0 ++ missingKey
          val tuples = complete.map { e =>
            val node = om.readTree(e.partitionJson)
            e.filePath -> flds.map { case (fieldName, _) =>
              Option(node.get(fieldName)).filterNot(_.isNull).map(_.asText()).orNull
            }
          }
          FileSkipping.partitionPrune(spark, partFields, tuples, filterConjs) match {
            case Some(kept) => complete.filter(e => kept.contains(e.filePath)) ++ withoutPj
            case None       => entries
          }
        }
      }.getOrElse(entries)
    val scanData0: Seq[Entry] = pruneIdentity(supportedData)
    // Delete FILES prune by partition too (round 9): a surviving delete
    // manifest can still list per-partition delete files the filter
    // excludes — their rows could only remove data rows the residual
    // filter drops anyway. The own-spec gate inside pruneIdentity keeps
    // global (unpartitioned-spec) equality deletes untouched, and
    // anything unreadable fails open exactly like the data path.
    val posDeleteFiles = pruneIdentity(posDeleteFiles0)
    val eqDeleteFiles = pruneIdentity(eqDeleteFiles0)
    // deletion vectors prune like position deletes — a DV whose
    // partition the filter excludes could only delete rows the residual
    // filter drops (and its referenced data file is pruned with it)
    val dvApplicable = pruneIdentity(dvFiles)
    // transform-aware per-file pruning. Bucket[N] fields support
    // equality/IN (the spec's murmur3 hash of the literal must equal
    // the stored bucket id); ORDER-PRESERVING transforms — truncate[W],
    // year/month/day/hour — additionally support ranges: `ts > v`
    // implies `day(ts) >= day(v)`, so the conjunct reduces to an
    // ordinal-domain comparison (with > relaxed to >= and < to <=)
    // tested against the file's single stored partition value via
    // rangeExcludes([pv, pv]). Only drops when every literal transforms
    // cleanly; anything unexpected keeps the file.
    val scanData1: Seq[Entry] =
      if (filterConjs.isEmpty) scanData0
      else scala.util.Try {
        case class TField(fieldName: String, srcName: String, srcType: String,
            kind: String, arg: Int)
        val tfields: Seq[TField] = {
          val all = specsById.values.flatten.flatMap { pf =>
            for {
              (kind, arg) <- parseTransform(pf.transform) if kind != "identity" // identity prunes exactly above
              (src, tpe) <- schemaFieldById.get(pf.sourceId)
            } yield TField(pf.name, src, tpe, kind, arg)
          }.toSeq
          // prune only on field names every spec agrees about
          all.groupBy(_.fieldName).collect { case (_, vs) if vs.distinct.size == 1 => vs.head }.toSeq
        }
        val cmpShapes = filterConjs.flatMap(FileSkipping.simpleShape).collect {
          case c: FileSkipping.Cmp => c
        }
        if (tfields.isEmpty || cmpShapes.isEmpty) scanData0
        else {
          val om = new ObjectMapper()
          // the file's stored partition value, parsed into the ordinal
          // comparison domain (day values may render as ISO dates)
          def pvValue(tf: TField, txt: String): Option[Any] =
            partitionTypeOf(tf.kind, tf.srcType) match {
              case "string" => Some(txt)
              case "date" =>
                txt.toLongOption.orElse(
                  scala.util.Try(java.time.LocalDate.parse(txt).toEpochDay).toOption)
              case _ => txt.toLongOption
            }
          scanData0.filterNot { e =>
            e.partitionJson != null && {
              val node = om.readTree(e.partitionJson)
              cmpShapes.exists { c =>
                tfields.exists { tf =>
                  tf.srcName.equalsIgnoreCase(c.name) &&
                    // only prune on fields the entry's OWN spec declares
                    // (older-spec files resolve absent fields to null)
                    specsById.getOrElse(e.specId, Nil).exists(_.name == tf.fieldName) && {
                    val pvNode = node.get(tf.fieldName)
                    pvNode != null && !pvNode.isNull &&
                      deriveCmp(c, tf.kind, tf.arg, tf.srcType).exists { derived =>
                        pvValue(tf, pvNode.asText())
                          .exists(pv => FileSkipping.rangeExcludes(derived, Some(pv), Some(pv)))
                      }
                  }
                }
              }
            }
          }
        }
      }.getOrElse(scanData0)
    // second stage: per-file COLUMN bounds (data_file.lower_bounds /
    // upper_bounds, map field-id → single-value binary) range-test the
    // same simple conjuncts Delta prunes on via add.stats. Iceberg
    // bounds never hold NaN (spec: "NaN ... not permitted in bounds"),
    // so float/double are safe here, unlike the Delta JSON-stats path.
    // Absent bounds/unknown types fail open.
    val scanData: Seq[Entry] =
      if (filterConjs.isEmpty) scanData1
      else scala.util.Try {
        val shapes = filterConjs.flatMap(FileSkipping.simpleShape)
          .collect { case c: FileSkipping.Cmp => c }
        if (shapes.isEmpty) scanData1
        else {
          val byColName: Map[String, (Int, String)] =
            schemaFieldById.map { case (id, (n, t)) => n.toLowerCase -> (id, t) }
          val om = new ObjectMapper()
          // real manifests carry bounds as an Avro array of {key, value}
          // records (the avro map form needs string keys); a true map
          // serializes as a JSON object keyed by the id — accept both
          def bound(json: String, id: Int, t: String): Option[Any] =
            FileSkipping.icebergBound(json, id, t)
          // same-domain literals only (days vs micros vs ints are all
          // bare Longs here — a mixed compare would prune wrong files,
          // not fewer); the guard depends on (shape, column type) only,
          // so it runs once here, not per file entry
          val guarded = shapes.flatMap(c => byColName.get(c.name.toLowerCase)
            .filter { case (_, t) => FileSkipping.literalsMatch(c, t) }
            .map(ct => (c, ct._1, ct._2)))
          scanData1.filterNot { e =>
            (e.lowerJson != null || e.upperJson != null) && guarded.exists { case (c, id, t) =>
              FileSkipping.rangeExcludes(c, bound(e.lowerJson, id, t), bound(e.upperJson, id, t))
            }
          }
        }
      }.getOrElse(scanData1)
    def emptyTyped(): DataFrame = {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        sparkSchemaOpt.getOrElse(throw new IllegalArgumentException(
          "iceberg: filter pruned every file but the metadata has no schema for an empty result")))
      changes.fold(base)(_ => base
        .withColumn("_snapshot_id", lit(null).cast("bigint"))
        .withColumn("_committed_at", lit(null).cast("timestamp")))
    }
    // changes read: restrict the scan to the window's surviving adds
    val scanDataC =
      changes.fold(scanData)(m => scanData.filter(e => m.contains(e.filePath)))
    if (scanDataC.isEmpty) return emptyTyped()

    val needMeta = posDeleteFiles.nonEmpty || eqDeleteFiles.nonEmpty ||
      dvApplicable.nonEmpty || changes.isDefined
    def mkScan(fmt: String, entries: Seq[Entry]): org.apache.spark.sql.DataFrame = {
      val ps = entries.map(e => resolve(e.filePath, table)).distinct
      val base = (fmt, sparkSchemaOpt) match {
        case ("parquet", Some(st)) =>
          scanSession.read.schema(st).parquet(ps: _*)
        case ("parquet", None) => scanSession.read.option("mergeSchema", "true").parquet(ps: _*)
        case ("orc", Some(st)) => scanSession.read.schema(st).orc(ps: _*)
        case ("orc", None)     => scanSession.read.option("mergeSchema", "true").orc(ps: _*)
        case (other, _) => throw new IllegalStateException(s"unreachable format $other")
      }
      if (!needMeta) base
      else base.withColumn("__file", norm(expr("_metadata.file_path")))
        .withColumn("__pos", // parquet-only metadata; ORC rows reach here
          // only with equality deletes, which never consult __pos
          if (fmt == "parquet") expr("_metadata.row_index") else lit(null).cast("bigint"))
    }

    // ---- name-mapping application -----------------------------------
    // With a mapping present, inspect every parquet data file's footer
    // ON EXECUTORS (one tiny read each — only name-mapped tables pay
    // this) to learn which files actually lack field ids and which of
    // the mapping's names each uses. Id-bearing files keep the field-id
    // scan; id-less files group by their resolved (field id → column
    // name) assignment and scan BY NAME with renames back to the
    // current schema — the Delta column-mapping mold, so heterogeneous
    // alias eras each get their own correct scan. A file with neither
    // ids nor any matching mapping name refuses loudly (an all-null
    // read is a silent wrong answer).
    def mkMappedScan(resolution: Seq[(Int, Option[String])], ps: Seq[String]): org.apache.spark.sql.DataFrame = {
      val st = sparkSchemaOpt.get
      val byId = resolution.toMap
      val readFields = st.fields.map { f =>
        val fid = f.metadata.getLong("parquet.field.id").toInt
        // spec column-projection rule: a field the mapping does NOT
        // resolve for this file must read as NULL — falling back to the
        // current schema name would fabricate values from a
        // coincidentally-named unrelated column, so unresolved fields
        // get a placeholder no file can contain
        val phys = byId.get(fid).flatten.getOrElse(s"__graft_unmapped_$fid")
        // deliberately NO field-id metadata: this scan matches by name
        org.apache.spark.sql.types.StructField(phys, f.dataType, nullable = true)
      }
      require(readFields.map(_.name).distinct.length == readFields.length,
        "iceberg: name mapping resolves two schema fields to the same file column")
      val base = scanSession.read.schema(org.apache.spark.sql.types.StructType(readFields)).parquet(ps: _*)
      val renamed = st.fields.toSeq.zip(readFields).map { case (lf, rf) => base(rf.name).as(lf.name) }
      if (!needMeta) base.select(renamed: _*)
      else base.select(renamed :+ norm(expr("_metadata.file_path")).as("__file")
        :+ expr("_metadata.row_index").as("__pos"): _*)
    }
    val byFmt = scanDataC.groupBy(_.fileFormat)
    val parquetData = byFmt.getOrElse("parquet", Nil).toSeq
    val (plainParquet: Seq[Entry], mappedScans: Seq[org.apache.spark.sql.DataFrame]) = nameMapping match {
      case None => (parquetData, Nil)
      case Some(mapping) if parquetData.isEmpty => (parquetData, Nil)
      case Some(mapping) =>
        val st = sparkSchemaOpt.getOrElse(throw new IllegalArgumentException(
          "iceberg: schema.name-mapping.default without a schema in the metadata — cannot resolve"))
        val byResolved = parquetData.map(e => resolve(e.filePath, table) -> e).toMap
        val sconf = new graft.core.SerializableHadoopConf(conf)
        val paths = byResolved.keys.toSeq.sorted
        val footers: Seq[(String, Boolean, Boolean, Seq[String])] = spark.sparkContext
          .parallelize(paths, math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism)))
          .map { p =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new Path(p), sconf.value)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
              (p, fields.forall(_.getId != null), fields.exists(_.getId != null),
                fields.map(_.getName))
            } finally r.close()
          }.collect().toSeq
        footers.foreach { case (p, allIds, anyIds, _) =>
          require(allIds == anyIds,
            s"iceberg: $p has field ids on only some columns — outside the supported profile")
        }
        val (withIds, idLess) = footers.partition(_._2)
        val groups = idLess.map { case (p, _, _, cols) =>
          val fileCols = cols.toSet
          val resolution: Seq[(Int, Option[String])] = st.fields.toSeq.map { f =>
            val fid = f.metadata.getLong("parquet.field.id").toInt
            fid -> mapping.get(fid).flatMap(_.find(fileCols.contains))
          }
          require(resolution.exists(_._2.isDefined),
            s"iceberg: $p has no field ids and no name-mapping entry matches its columns " +
              s"(${cols.mkString(",")}) — the file matches neither ids nor mapping")
          resolution -> p
        }.groupBy(_._1).map { case (res, ps) => mkMappedScan(res, ps.map(_._2)) }.toSeq
        (withIds.map(f => byResolved(f._1)), groups)
    }
    // ---- v3 initial-default application (rounds 12 + 15) -------------
    // A primitive field carrying initial-default — top-level OR nested
    // through structs — reads that CONSTANT for rows in files written
    // before the field existed. "Before" is decided from each file's
    // parquet FOOTER (the same executor-side inspection the
    // name-mapping path pays), walking nested groups for nested ids:
    // files whose footer lacks the field's id overlay the default
    // (nested ones via withField on the enclosing struct column, which
    // leaves a NULL parent struct null — iceberg-java's own missing-
    // struct semantics), files carrying the id keep their real values —
    // including real nulls. Defaults inside list/map subtrees refuse in
    // toSparkSchema; ORC data and name-mapped tables refuse the
    // combination (no footer-id grouping there, and a silent null
    // would be a wrong answer).
    val defaultFields: Seq[(Seq[String], Int, Seq[Int], String, String)] =
      schemaNode.toSeq.flatMap(defaultFieldsOf)
    val (plainParquet2: Seq[Entry], defaultScans: Seq[org.apache.spark.sql.DataFrame]) =
      if (defaultFields.isEmpty || plainParquet.isEmpty) (plainParquet, Nil)
      else {
        require(byFmt.get("orc").forall(_.isEmpty) && mappedScans.isEmpty,
          "iceberg: initial-default with ORC data files or name mapping — outside " +
            "this native reader's profile; read the table with the iceberg-spark connector jar")
        defaultFields.filter(_._1.size > 1).foreach(d =>
          require(d._1.forall(!_.contains(".")),
            s"iceberg: nested initial-default path ${d._1.mkString("/")} has a '.' in a " +
              "field name — withField addressing cannot express it; read the table " +
              "with the iceberg-spark connector jar"))
        val st = sparkSchemaOpt.get
        val byResolved = plainParquet.map(e => resolve(e.filePath, table) -> e).toMap
        val sconf2 = new graft.core.SerializableHadoopConf(conf)
        val paths = byResolved.keys.toSeq.sorted
        val defIds = defaultFields.map(_._2).toSet
        val presence: Seq[(String, Set[Int])] = spark.sparkContext
          .parallelize(paths, math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism)))
          .map { p =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new Path(p), sconf2.value)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              def idsOf(t: org.apache.parquet.schema.Type): Set[Int] = {
                val here = Option(t.getId).map(_.intValue()).toSet
                t match {
                  case g: org.apache.parquet.schema.GroupType =>
                    here ++ g.getFields.asScala.flatMap(idsOf)
                  case _ => here
                }
              }
              val ids = r.getFooter.getFileMetaData.getSchema.getFields.asScala
                .flatMap(idsOf).toSet
              (p, ids.intersect(defIds))
            } finally r.close()
          }.collect().toSeq
        val groups = presence.groupBy(pr => defIds -- pr._2) // keyed by ABSENT ids
        val plainPaths = groups.getOrElse(Set.empty[Int], Nil).map(_._1)
        def typeAt(path: Seq[String]): org.apache.spark.sql.types.DataType =
          path.foldLeft(st: org.apache.spark.sql.types.DataType) {
            case (s: org.apache.spark.sql.types.StructType, n) => s(n).dataType
            case (other, n) => throw new IllegalStateException(
              s"iceberg: default path component '$n' under non-struct $other")
          }
        val overlays = (groups - Set.empty[Int]).toSeq.map { case (absent, ps) =>
          val base = mkScan("parquet", ps.map(p => byResolved(p._1)))
          val absentByHead = defaultFields
            .filter(d => absent.contains(d._2)).groupBy(_._1.head)
          val overlayCols = st.fields.toSeq.map { f =>
            absentByHead.get(f.name) match {
              case None => col(f.name)
              case Some(ds) => ds.foldLeft(col(f.name)) { (c, d) =>
                  if (d._1.size == 1) lit(d._5).cast(f.dataType)
                  else c.withField(d._1.tail.mkString("."),
                    lit(d._5).cast(typeAt(d._1)))
                }.as(f.name)
            }
          }
          val metaCols = if (needMeta) Seq(col("__file"), col("__pos")) else Nil
          base.select(overlayCols ++ metaCols: _*)
        }
        (plainPaths.map(byResolved).toSeq, overlays)
      }
    val scans = (if (plainParquet2.nonEmpty) Seq(mkScan("parquet", plainParquet2)) else Nil) ++
      defaultScans ++ mappedScans ++
      byFmt.get("orc").toSeq.map(es => mkScan("orc", es.toSeq))
    var data = scans.reduce(_ unionByName _)
    val dataCols = if (needMeta) data.columns.toSeq.filterNot(Set("__file", "__pos")) else data.columns.toSeq

    // per-row re-encode (small delete sides only): delete files store
    // RAW storage paths while the scan's _metadata.file_path is the
    // percent-encoded URI form — comparing raw to encoded silently
    // resurrects deleted rows in files whose paths need quoting
    val encPath = udf((p: String) => new Path(p).toUri.toString)

    if (posDeleteFiles.nonEmpty) {
      // Position deletes: parquet files of (file_path, pos) — applied as
      // a distributed anti-join against the scan's (_metadata.file_path,
      // _metadata.row_index). Path+pos keying is safe without sequence
      // numbers because data file paths are immutable (a rewritten file
      // gets a new path, stale deletes match nothing). The delete side
      // is usually tiny → AQE broadcasts it.
      val delPaths = posDeleteFiles.map(r => resolve(r.filePath, table)).distinct.toSeq
      val deletes = scanSession.read.parquet(delPaths: _*)
        .select(norm(encPath(col("file_path"))).as("__del_file"), col("pos").as("__del_pos"))
      data = data.join(deletes,
        col("__file") === col("__del_file") && col("__pos") === col("__del_pos"), "left_anti")
    }

    if (dvApplicable.nonEmpty) {
      // v3 deletion vectors: each puffin blob is Delta's DV
      // serialization by design ([len BE][magic LE + roaring64
      // portable][CRC-32 BE of magic+vector]) with content_offset
      // addressing the length word — so the decode IS
      // [[DeltaReader.dvRows]] with the blob address as a 'p'
      // descriptor, sharing its magic/CRC/cardinality integrity gates
      // (record_count is the DV's cardinality per the v3 spec). Blobs
      // decode ON EXECUTORS (the driver ships ~100-byte descriptors)
      // into (referenced file, position) pairs that anti-join the
      // scan's (_metadata.file_path, row_index) exactly like position
      // deletes — path+pos keying is safe for the same immutable-path
      // reason, and at most one DV per data file exists per snapshot.
      val sconf = new graft.core.SerializableHadoopConf(conf)
      val descs: Seq[(String, String, Long, Int, Long)] = dvApplicable.map { e =>
        (new Path(resolve(e.refDataFile.get, table)).toUri.toString,
          resolve(e.filePath, table), e.contentOffset.get,
          (e.contentSize.get - 8).toInt, e.recordCount.get)
      }
      import spark.implicits._
      val dvDeletes = spark.createDataset(descs)
        .repartition(math.max(1, math.min(descs.size, spark.sparkContext.defaultParallelism)))
        .flatMap { case (refFile, puffin, off, sz, card) =>
          require(off <= Int.MaxValue.toLong,
            s"iceberg: deletion vector offset $off beyond this reader's 2 GiB puffin bound")
          DeltaReader.dvRows("", DeltaReader.DvDescriptor("p", puffin, off.toInt, sz, card),
            sconf.value).map(pos => (refFile, pos))
        }.toDF("__dv_file0", "__dv_pos")
        .select(norm(col("__dv_file0")).as("__dv_file"), col("__dv_pos"))
      data = data.join(dvDeletes,
        col("__file") === col("__dv_file") && col("__pos") === col("__dv_pos"), "left_anti")
    }

    if (eqDeleteFiles.nonEmpty) {
      // Equality deletes: a delete file's rows remove any data row whose
      // equality columns match AND whose data file's sequence number is
      // STRICTLY below the delete file's (spec "applies to data files
      // with a sequence number less than the delete's"). The per-file
      // sequence number joins in via a small path→seq map column; field
      // ids resolve to names through the table schema in the metadata.
      // Field ids resolve to CURRENT-schema names first (renames must
      // follow the live schema); historical schemas only fill ids the
      // current schema no longer carries.
      val fieldNames: Map[Int, String] = {
        val historic = (Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala) ++
          Option(meta.get("schema")).toSeq)
          .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala))
          .map(fld => fld.get("id").asInt() -> fld.get("name").asText()).toMap
        val current = currentSchemaNode(meta).toSeq
          .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala))
          .map(fld => fld.get("id").asInt() -> fld.get("name").asText()).toMap
        // the SCAN's columns follow schemaNode (the pinned snapshot
        // schema under explicit time travel) — its names must win, or
        // a post-snapshot rename would build the delete condition over
        // a column the pinned frame does not carry
        val scanNames = schemaNode.toSeq
          .flatMap(s => Option(s.get("fields")).toSeq.flatMap(_.elements().asScala))
          .map(fld => fld.get("id").asInt() -> fld.get("name").asText()).toMap
        historic ++ current ++ scanNames
      }
      // per-file sequence numbers AND spec ids attach via a tiny
      // broadcast lookup (a when()-chain would grow the expression tree
      // O(n files)); an unmatched path is a read bug, not a shrug —
      // raise, never guess. The spec id feeds the scoped application's
      // same-spec gate below (round 10).
      import spark.implicits._
      val seqDf = broadcast(scanDataC.map(r =>
        (PathKeys.driverKey(resolve(r.filePath, table), tableFs), r.seq, r.specId))
        .toSeq.toDF("__seq_file", "__seq0", "__spec"))
      data = data.join(seqDf, col("__file") === col("__seq_file"), "left")
        .withColumn("__seq",
          org.apache.spark.sql.functions.when(col("__seq0").isNull,
            raise_error(concat(lit("iceberg: data file missing from sequence map: "), col("__file"))).cast("bigint"))
            .otherwise(col("__seq0")))
        .drop("__seq_file", "__seq0")
      // Partition SCOPE (spec rule): an equality delete written under a
      // PARTITIONED spec applies only to data FILES whose partition —
      // spec id AND tuple — equals the delete file's; only
      // unpartitioned-spec deletes are global. The tuple half
      // re-expresses the file's partition values over data columns
      // (exact for a same-spec file, whose rows all share the file
      // tuple); the spec-id half gates the anti-join on the data file's
      // own spec id (round 10) — without it, rows in files written
      // under a DIFFERENT spec (e.g. the unpartitioned era of a table
      // later migrated to bucket[N]) that happen to recompute to the
      // delete's partition value would be silently over-deleted.
      // Identity/bucket/truncate transforms recompute per row; any
      // other partitioned transform refuses loudly — applying such a
      // delete globally would over-delete, a silent wrong answer.
      val scopeMapper = new ObjectMapper()
      def scopeOf(e: Entry): Seq[(String, String, String, Int, Option[String])] = {
        val pfs = specsById.getOrElse(e.specId, Nil)
        if (pfs.isEmpty) Nil // unpartitioned spec: global application
        else {
          require(e.partitionJson != null,
            s"iceberg: equality delete file ${e.filePath} carries no partition tuple to scope by")
          val node = scopeMapper.readTree(e.partitionJson)
          pfs.map { pf =>
            val (srcName, srcType) = schemaFieldById.getOrElse(pf.sourceId,
              throw new IllegalArgumentException(
                s"iceberg: equality delete partition source id ${pf.sourceId} not in the table schema"))
            // transform gate FIRST (the fundamental one), then the tuple:
            // a tuple MISSING the spec's own field (an old writer, or
            // the mixed-spec Avro merge collapsing absent fields) cannot
            // scope — treating it as null would silently UNDER-delete
            val kindArg: (String, Int) = pf.transform match {
              case "identity" =>
                // identity scope values round-trip to_json TEXT + cast:
                // only types whose text form is exact may scope —
                // timestamps lose sub-millisecond digits in to_json and
                // binary/uuid/float text forms don't cast back, which
                // would silently UNDER-delete
                require(srcType == "int" || srcType == "long" || srcType == "string" ||
                  srcType == "date" || srcType == "boolean" || srcType.startsWith("decimal"),
                  s"iceberg: equality delete scoped by identity over '$srcType' — outside this " +
                    "native reader's profile; read the table with the iceberg-spark connector jar")
                ("identity", 0)
              case bucketRe(n) =>
                // bucket scoping recomputes the spec's murmur3 per data
                // row (the Flink-CDC layout: eq deletes under bucket[N]
                // specs); types whose hash encoding we can reproduce
                // from the column only
                require(Set("int", "long", "string", "date", "timestamptz").contains(srcType),
                  s"iceberg: equality delete scoped by bucket over '$srcType' — outside this " +
                    "native reader's profile; read the table with the iceberg-spark connector jar")
                ("bucket", n.toInt)
              case truncRe(w) =>
                // truncate[W] scoping recomputes the prefix per data row
                // (round 10): ints floor to the W-multiple (pure pmod
                // Column — codegen'd), strings take the first W code
                // points via the spec-pinned transform. Decimals (round
                // 11): the spec's truncate is W applied to the UNSCALED
                // value — equivalently `d - pmod(d, W·10^-scale)` on the
                // scaled value, pure decimal Column arithmetic — and the
                // tuple text round-trips exactly through BigDecimal
                // (both sides carry the column's own scale). Binary
                // stays outside (byte prefixes have no JSON text form).
                require(Set("int", "long", "string").contains(srcType) ||
                  srcType.startsWith("decimal"),
                  s"iceberg: equality delete scoped by truncate over '$srcType' — outside this " +
                    "native reader's profile; read the table with the iceberg-spark connector jar")
                ("truncate", w.toInt)
              case other =>
                throw new IllegalArgumentException(
                  s"iceberg: equality delete file ${e.filePath} under non-identity partition " +
                    s"transform '$other' — scoped application is outside this native reader's " +
                    "profile; read the table with the iceberg-spark connector jar")
            }
            require(node.has(pf.name),
              s"iceberg: equality delete file ${e.filePath} partition tuple lacks field " +
                s"'${pf.name}' of its own spec — cannot scope; read the table with the " +
                "iceberg-spark connector jar")
            val v = Option(node.get(pf.name)).filterNot(_.isNull).map(_.asText())
            (kindArg._1, srcName, srcType, kindArg._2, v)
          }
        }
      }
      // group delete files by (equality-column set, partition scope,
      // delete spec id) — one anti-join per group; CDC-style tables
      // keep this small (few partitions carry live eq deletes after
      // pruning). The spec id is part of the key because two specs can
      // render identical scope tuples yet gate different data files.
      val groups = eqDeleteFiles.groupBy { e =>
        require(e.equalityIds.nonEmpty, "iceberg: equality delete file without equality_ids")
        val scope = scopeOf(e)
        (e.equalityIds.map(i => fieldNames.getOrElse(i,
          throw new IllegalArgumentException(s"iceberg: equality field id $i not in table schema"))).sorted,
          scope, if (scope.isEmpty) -1 else e.specId)
      }
      groups.foreach { case ((cols, scope, delSpecId), files) =>
        val delPaths = files.map(e => resolve(e.filePath, table)).distinct
        val delSeqDf = broadcast(files.map(e =>
          (PathKeys.driverKey(resolve(e.filePath, table), tableFs), e.seq)).toSeq.toDF("__del_seq_file", "__del_seq"))
        // Delete files resolve by field id too: a column renamed AFTER
        // the delete was written still matches (the delete file stores
        // the old physical name but the same field id). Falls back to
        // by-name when the metadata carries no schema.
        val delScan = sparkSchemaOpt match {
          case Some(st) =>
            scanSession.read.schema(org.apache.spark.sql.types.StructType(cols.map(c => st(c)).toArray))
              .parquet(delPaths: _*)
          case None => scanSession.read.parquet(delPaths: _*)
        }
        val deletes = delScan
          .withColumn("__del_file", norm(expr("_metadata.file_path")))
          .join(delSeqDf, col("__del_file") === col("__del_seq_file"), "left")
          .withColumn("__del_seq",
            org.apache.spark.sql.functions.when(col("__del_seq").isNull,
              raise_error(concat(lit("iceberg: delete file missing from sequence map: "), col("__del_file"))).cast("bigint"))
              .otherwise(col("__del_seq")))
          .select(cols.map(c => col(c).as(s"__del_$c")) :+ col("__del_seq"): _*)
        // the scope narrows the anti-join to the delete's own partition:
        // identity tuple values cast exactly like attached partition
        // columns; bucket tuples compare the spec's murmur3 of the
        // source column (a UDF — acceptable on the delete-application
        // scope condition; the hash is spec-pinned) against the stored
        // bucket id; a null tuple value matches null source rows (<=>)
        val scopeCond = scope.map { case (kind, src, srcType, arg, v) =>
          val st = sparkSchemaOpt.getOrElse(throw new IllegalArgumentException(
            s"iceberg: cannot scope equality delete on $src without a schema in the metadata"))
          kind match {
            case "identity" => col(src) <=> lit(v.orNull).cast(st(src).dataType)
            case "bucket" =>
              import org.apache.spark.sql.functions.{datediff, unix_micros}
              val n = arg
              val longBucket = udf((x: java.lang.Long) =>
                if (x == null) null.asInstanceOf[java.lang.Integer]
                else java.lang.Integer.valueOf(IcebergTransforms.bucketOf(x.longValue(), n).getOrElse(-1)))
              val bcol = srcType match {
                case "string" =>
                  val u = udf((x: String) =>
                    if (x == null) null.asInstanceOf[java.lang.Integer]
                    else java.lang.Integer.valueOf(IcebergTransforms.bucketOf(x, n).getOrElse(-1)))
                  u(col(src))
                case "date"        => longBucket(datediff(col(src), lit("1970-01-01")).cast("long"))
                case "timestamptz" => longBucket(unix_micros(col(src)))
                case _             => longBucket(col(src).cast("long")) // int, long
              }
              bcol <=> lit(v.map(t => java.lang.Integer.valueOf(t.toInt)).orNull)
            case "truncate" =>
              import org.apache.spark.sql.functions.pmod
              val w = arg
              srcType match {
                case "string" =>
                  val u = udf((x: String) =>
                    if (x == null) null
                    else IcebergTransforms.truncateOf(x, w).map(_.asInstanceOf[String]).orNull)
                  u(col(src)) <=> lit(v.orNull)
                case d if d.startsWith("decimal") =>
                  // spec: truncate W on the UNSCALED value, scale kept —
                  // i.e. d - pmod(d, W·10^-scale); the tuple text parses
                  // exactly via BigDecimal (scale-preserving), both
                  // sides cast to the column's own type so the compare
                  // is same-scale decimal, never a float detour
                  val decRe = "decimal\\(\\s*\\d+\\s*,\\s*(\\d+)\\s*\\)".r
                  val scale = d.trim match {
                    case decRe(s) => s.toInt
                    case other => throw new IllegalArgumentException(
                      s"iceberg: unparseable decimal type '$other' in truncate scope")
                  }
                  val dt = st(src).dataType
                  val step = java.math.BigDecimal.valueOf(w.toLong).movePointLeft(scale)
                  (col(src) - pmod(col(src), lit(step))).cast(dt) <=>
                    lit(v.map(t => new java.math.BigDecimal(t)).orNull).cast(dt)
                // int/long: floor to the W-multiple, pure Column (codegen'd)
                case _ =>
                  (col(src).cast("long") - pmod(col(src).cast("long"), lit(w.toLong))) <=>
                    lit(v.map(t => java.lang.Long.valueOf(t.toLong)).orNull)
              }
          }
        }
        // same-spec gate (spec rule: the data file's partition — spec id
        // AND tuple — must equal the delete's): rows from files written
        // under any other spec survive, whatever they recompute to
        val specGate = if (scope.isEmpty) Nil else Seq(col("__spec") === lit(delSpecId))
        val cond = (cols.map(c => col(c) <=> col(s"__del_$c")) ++ scopeCond ++ specGate)
          .reduce(_ && _) && col("__seq") < col("__del_seq")
        data = data.join(deletes, cond, "left_anti")
      }
    }

    // changes read: attach (_snapshot_id, _committed_at) via a
    // broadcast (file → snapshot) join keyed on the scan's own
    // `_metadata.file_path` — uniform across formats and delete
    // application, O(new files) driver state (the Delta changes mold)
    val result = changes match {
      case None => if (needMeta) data.select(dataCols.map(col): _*) else data
      case Some(m) =>
        import spark.implicits._
        val chDf = broadcast(scanDataC.map { e =>
          val (sid, ts) = m(e.filePath)
          (new Path(resolve(e.filePath, table)).toUri.toString, sid, new java.sql.Timestamp(ts))
        }.distinct.toDF("__ch_file0", "__ch_snap", "__ch_ts"))
        data.join(chDf, col("__file") === norm(col("__ch_file0")))
          .select(dataCols.map(col) :+ col("__ch_snap").as("_snapshot_id") :+
            col("__ch_ts").as("_committed_at"): _*)
    }
    // residual filter: file skipping is a superset guarantee; applying
    // the whole predicate here makes the result exactly where(filter)
    val filtered = filter.map(fs => result.where(expr(fs))).getOrElse(result)
    // re-bind to the CALLER's session: the plan above was assembled in
    // the conf-scoped clone, and a Dataset registers temp views / runs
    // SQL against the session it belongs to. The file relations inside
    // keep the clone (preserving field-id resolution); only the Dataset
    // handle moves.
    if (scanSession eq spark) filtered
    else org.apache.spark.sql.graft.bridge.ofRows(spark, filtered.queryExecution.analyzed)
  }
}

/** Registry wrapper: the connector-gated `spark_iceberg` FormatReader
  * precedes this in `SparkReaders.all`, so with the iceberg-spark jar
  * present the real connector wins; this native walk is the
  * always-importable fallback. */
class IcebergReaderImpl extends Reader {
  val name = "iceberg_native"
  val implementsKinds = Set("iceberg")
  // an explicit `filter` option keeps the eager pruned read; otherwise
  // the deferred frame lets the QUERY's own filters drive file skipping
  def read(spark: SparkSession, ref: DataRef): DataFrame =
    if (ref.options.contains("metadataTable"))
      // inspection surface (tbl$history / $snapshots / $refs /
      // $manifests / $files / $partitions) through the catalog route
      IcebergReader.metadataTable(spark, ref.url, ref.options("metadataTable"))
    else if (ref.options.contains("ref"))
      // named tag/branch read (tag → snapshot schema, branch → current)
      IcebergReader.read(spark, ref.url, ref = Some(ref.options("ref")),
        filter = ref.options.get("filter"))
    else if (ref.options.contains("changeFeedSinceSnapshot"))
      // row-level change feed: insert/delete-labelled rows per ancestry
      // step (the Delta changeFeedSince twin)
      IcebergReader.readChangeFeed(spark, ref.url,
        ref.options("changeFeedSinceSnapshot").toLong, filter = ref.options.get("filter"))
    else if (ref.options.contains("changesSinceSnapshot"))
      // incremental batch read: rows added after the given snapshot,
      // tagged _snapshot_id/_committed_at (always eager — the window
      // resolves at read time, like snapshotId)
      IcebergReader.readChangesSince(spark, ref.url,
        ref.options("changesSinceSnapshot").toLong, filter = ref.options.get("filter"))
    else (ref.options.get("filter"), ref.options.get("timestampAsOf")) match {
      case (Some(_), Some(ts)) =>
        IcebergReader.readAsOfTimestamp(spark, ref.url, PathKeys.parseTimestampMs(ts),
          filter = ref.options.get("filter"))
      case (Some(_), None) =>
        IcebergReader.read(spark, ref.url, ref.options.get("snapshotId").map(_.toLong),
          filter = ref.options.get("filter"))
      case (None, ts) =>
        IcebergReader.table(spark, ref.url,
          snapshotId = ref.options.get("snapshotId").map(_.toLong),
          timestampMs = ts.map(PathKeys.parseTimestampMs))
    }
}
