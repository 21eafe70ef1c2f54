package graft.readers

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Native Delta micro-batch STREAMING source —
  * `spark.readStream.format("graft-delta").load(path)` with NO
  * connector jar, built on the round-11 changes machinery (the same
  * per-version add walk behind `readChangesSince`). Mirrors the
  * delta-spark source's semantics:
  *
  *  - the offset is the table VERSION (checkpointed as its decimal
  *    string); each micro-batch emits the dataChange=true ADDS of the
  *    versions in `(start, end]`, each version scanned AS OF ITSELF
  *    (its adds are live there by construction — a later remove cannot
  *    retroactively affect rows the stream already emitted);
  *  - the first batch is the FULL snapshot at the current version
  *    (option `startingVersion`: a number starts at that version's
  *    changes instead; `latest` emits nothing old and tails);
  *  - a version that REMOVES data (dataChange=true remove) refuses
  *    loudly — emitted rows cannot be retracted from an append stream;
  *    `skip_change_commits=true` skips such versions wholesale (adds
  *    AND removes), the connector's skipChangeCommits;
  *  - dataChange=false versions (OPTIMIZE) contribute nothing — their
  *    files carry rows the stream already emitted;
  *  - a metaData/protocol change inside a window refuses loudly (a
  *    stream's schema must be constant; restart to pick up the new
  *    schema), except the initial commit's own metaData;
  *  - a missing commit json in the window (expired log) refuses
  *    naming a re-baseline.
  *
  * Scale shape: `getOffset` is one listStatus; each batch's walk reads
  * only its window's commit jsons on the driver; the scan is the
  * ordinary pinned parquet read restricted to the window's files (the
  * snapshot cache serves repeated pins). DVs/column mapping/partition
  * attachment ride the normal read path.
  */
class DeltaStreamProvider extends StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-delta"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta: a table path is required — readStream.format(\"graft-delta\").load(<path>)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val base = DeltaReader.schemaOf(sqlContext.sparkSession, pathOf(parameters))
    val cdf = parameters.get("read_change_feed")
      .orElse(parameters.get("readChangeFeed")).exists(_.toBoolean)
    ("graft-delta", if (!cdf) base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType))))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new DeltaStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters, metadataPath)

  /** Streaming SINK: exactly-once Delta writes via the writer's txn
    * action — a batch id at or below the table's committed txn version
    * for this query's app id is a replay and skips (idempotent
    * addBatch under retries AND restarts). Append mode appends;
    * Complete mode overwrites the table per batch; Update mode UPSERTS
    * by key through the native MERGE (option `merge_keys` = the
    * comma-separated key columns; the usual shape is a streaming
    * aggregation whose changed groups upsert in place each trigger —
    * a no-op batch still records its txn so replays stay idempotent). */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val path = pathOf(parameters)
    val appId = parameters.get("txn_app_id")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-delta sink: exactly-once needs a stable transaction id — set " +
          "option(\"txn_app_id\", ...) (or a checkpointLocation, which doubles as one)"))
    val mergeKeys: Seq[String] = parameters.get("merge_keys")
      .orElse(parameters.get("mergeKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (outputMode == OutputMode.Update())
      require(mergeKeys.nonEmpty,
        "graft-delta sink: Update output mode upserts by key — set " +
          "option(\"merge_keys\", \"k1,k2\") (rows whose key exists update in place, " +
          "new keys insert)")
    else require(mergeKeys.isEmpty,
      "graft-delta sink: merge_keys only applies to Update output mode")
    new DeltaStreamSink(sqlContext.sparkSession, path, partitionColumns, outputMode,
      appId, mergeKeys)
  }
}

private[readers] class DeltaStreamSink(spark: SparkSession, table: String,
    partitionColumns: Seq[String], outputMode: OutputMode, appId: String,
    mergeKeys: Seq[String] = Nil) extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (batchId <= DeltaWriter.lastTxnVersion(spark, table, appId)) return // replay
    // the incoming frame is streaming-flagged; re-wrap the same
    // incremental execution as a batch frame for the writer
    val frame = org.apache.spark.sql.graft.bridge.batchFrame(data)
    if (outputMode == OutputMode.Update()) {
      // the first batch CREATES the table (an upsert into nothing is an
      // insert); after that the table's own layout governs and the
      // merge path publishes one commit per batch
      if (!DeltaLog.exists(spark, table))
        DeltaWriter.write(spark, frame, table, mode = "append",
          partitionBy = partitionColumns, txn = Some(appId -> batchId))
      else
        DeltaWriter.merge(spark, frame, table, on = mergeKeys,
          txn = Some(appId -> batchId))
    } else {
      val mode = if (outputMode == OutputMode.Complete()) "overwrite" else "append"
      DeltaWriter.write(spark, frame, table, mode = mode,
        partitionBy = partitionColumns, txn = Some(appId -> batchId))
    }
  }
  override def toString: String = s"DeltaStreamSink[$table]"
}

/** Stream offset: a fully-emitted `version`, or — under
  * `max_files_per_trigger` — a PARTIAL one (`part` = how many of the
  * version's path-sorted adds are emitted), serialized `v` / `v:part`
  * so pre-existing checkpoints parse unchanged. */
private[readers] case class DeltaVersionOffset(version: Long,
    part: Option[Long] = None) extends V1Offset {
  override def json(): String = part.fold(version.toString)(k => s"$version:$k")
}

private[readers] class DeltaStreamSource(spark: SparkSession, table: String,
    options: Map[String, String], metadataPath: String = "") extends Source {

  // CDF streaming (delta-spark's readChangeFeed option): batches serve
  // ROW-LEVEL changes — table columns + _change_type/_commit_version/
  // _commit_timestamp — through the batch change-feed's bounded-window
  // form, so deletes and updates flow as retraction rows instead of
  // refusing the stream
  private val readCdf = options.get("read_change_feed")
    .orElse(options.get("readChangeFeed")).exists(_.toBoolean)
  private val schema0 = {
    val base = DeltaReader.schemaOf(spark, table)
    if (!readCdf) base
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType)))
  }
  private val skipChangeCommits =
    options.get("skip_change_commits").exists(_.toBoolean)
  require(!(readCdf && skipChangeCommits),
    "graft-delta: read_change_feed serves change commits as rows — " +
      "skip_change_commits contradicts it")
  private val startingVersion = options.get("startingVersion")
    .orElse(options.get("starting_version"))
  // admission control: at most N versions per micro-batch (the commit
  // is this profile's atomic arrival unit — sub-version slicing would
  // need file-index offsets). A long catch-up then lands in bounded
  // chunks instead of one giant scan.
  private val maxVersions = options.get("max_versions_per_trigger")
    .orElse(options.get("maxVersionsPerTrigger")).map(_.toInt)
  maxVersions.foreach(n => require(n >= 1,
    s"graft-delta: max_versions_per_trigger must be >= 1 (got $n)"))
  // finer admission: at most N FILES per micro-batch (delta-spark's
  // maxFilesPerTrigger) — an oversized commit splits across triggers
  // via partial offsets over its PATH-SORTED adds, so the slicing is
  // deterministic across restarts. Composes with the version cap.
  private val maxFiles = options.get("max_files_per_trigger")
    .orElse(options.get("maxFilesPerTrigger")).map(_.toLong)
  maxFiles.foreach(n => require(n >= 1,
    s"graft-delta: max_files_per_trigger must be >= 1 (got $n)"))
  // byte-budget twin (delta-spark's maxBytesPerTrigger): a SOFT cap —
  // files admit while the running total is under it, so the boundary
  // file is included and every batch takes at least one file
  private val maxBytes = options.get("max_bytes_per_trigger")
    .orElse(options.get("maxBytesPerTrigger")).map(_.toLong)
  maxBytes.foreach(n => require(n >= 1,
    s"graft-delta: max_bytes_per_trigger must be >= 1 (got $n)"))
  require(!(readCdf && (maxFiles.isDefined || maxBytes.isDefined)),
    "graft-delta: read_change_feed windows are whole versions — file/byte caps cannot " +
      "split change rows; pace with max_versions_per_trigger")
  private var lastEndSeen: Option[(Long, Option[Long])] = None

  // per-version (path-sorted dataChange adds with sizes, has
  // dataChange removes, changes metadata/protocol), shared by the
  // admission walk and getBatch so both slice the same order; entries
  // behind the anchor are dropped each walk
  private val versionMetaCache =
    scala.collection.mutable.LongMap.empty[(Seq[(String, Long)], Boolean, Boolean)]
  private def versionMetaOf(v: Long): (Seq[(String, Long)], Boolean, Boolean) =
    versionMetaCache.getOrElseUpdate(v, {
      val actions = DeltaLog.commitActions(spark, table, v).getOrElse(throw new IllegalArgumentException(
        s"graft-delta: commit json $v missing from _delta_log (expired/cleaned log) — " +
          "cannot stream the window; re-baseline by restarting without a checkpoint"))
      val adds = actions.flatMap(a => Option(a.get("add")).filterNot(_.isNull))
        .filter(DeltaLog.dataChange)
        .map(a => a.get("path").asText() ->
          Option(a.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L))
        .distinctBy(_._1).sortBy(_._1)
      val hasRemoves = actions.flatMap(a => Option(a.get("remove")).filterNot(_.isNull))
        .exists(DeltaLog.dataChange)
      val changesMeta = actions.exists(a => a.has("metaData") || a.has("protocol"))
      (adds, hasRemoves, changesMeta)
    })

  // a numeric startingVersion may seed the cap only for a provably
  // FRESH query: after a restart the committed offset (recovered via
  // getBatch) must win, or the cap could offer an offset BEHIND the
  // checkpoint — a regression the offset log would record, re-emitting
  // rows on the next restart.
  private lazy val freshQuery: Boolean = StreamAnchors.freshQuery(spark, metadataPath)

  override def schema: StructType = schema0

  /** (version, part) ordering: a partial offset sits BELOW the full
    * version it belongs to. */
  private def offLt(a: (Long, Option[Long]), b: (Long, Option[Long])): Boolean =
    a._1 < b._1 || (a._1 == b._1 && ((a._2, b._2) match {
      case (Some(x), Some(y)) => x < y
      case (Some(_), None)    => true
      case _                  => false
    }))

  override def getOffset: Option[V1Offset] = {
    val cur = DeltaReader.currentVersion(spark, table)
    // the caps anchor on the last offered/committed end (recovered from
    // the checkpoint via getBatch on restart), or on a numeric
    // startingVersion for a fresh query; the no-anchor first batch is
    // the snapshot read — a single quantum regardless
    val anchor: Option[(Long, Option[Long])] = lastEndSeen.orElse(
      if (freshQuery) startingVersion.filter(_ != "latest").map(v => (v.toLong - 1, None))
      else None)
    val offered: (Long, Option[Long]) = anchor match {
      case None               => (cur, None)
      case Some((aV, aPart)) =>
        val vCap = maxVersions.fold(cur)(n => math.max(aV, math.min(cur, aV + n)))
        if (maxFiles.isEmpty && maxBytes.isEmpty) (vCap, None)
        else {
          // walk forward spending the file/byte budgets; an oversized
          // version ends the offer PARTIAL over its sorted adds. Bytes
          // are a soft cap: files admit while the running total is
          // under it, so a batch always takes at least one file.
          versionMetaCache.filterInPlace((k, _) => k >= aV) // bound the cache
          val fileCap = maxFiles.getOrElse(Long.MaxValue)
          val byteCap = maxBytes.getOrElse(Long.MaxValue)
          var files = 0L
          var bytes = 0L
          var res: (Long, Option[Long]) = (aV, aPart)
          var v = if (aPart.isDefined) aV else aV + 1
          var emitted = aPart.getOrElse(0L)
          var full = false
          while (v <= vCap && !full) {
            val (adds, hasRemoves, _) = versionMetaOf(v)
            // a version the stream will skip wholesale costs nothing
            val eff = if (hasRemoves && skipChangeCommits) Nil else adds
            var i = emitted.toInt
            while (i < eff.size && !full) {
              if (files >= fileCap || bytes >= byteCap) full = true
              else { files += 1; bytes += eff(i)._2; i += 1 }
            }
            if (i >= eff.size) { res = (v, None); v += 1; emitted = 0L }
            else res = (v, Some(i.toLong))
          }
          res
        }
    }
    lastEndSeen = Some(offered)
    Some(DeltaVersionOffset(offered._1, offered._2))
  }

  private[readers] def ver(o: V1Offset): (Long, Option[Long]) = o match {
    case DeltaVersionOffset(v, p) => (v, p)
    case other => other.json.trim.split(":") match { // SerializedOffset on restart
      case Array(v)    => (v.toLong, None)
      case Array(v, k) => (v.toLong, Some(k.toLong))
      case _ => throw new IllegalArgumentException(s"graft-delta: bad offset '${other.json}'")
    }
  }

  private def emptyBatch(): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema0)

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endO = ver(end)
    lastEndSeen = Some(lastEndSeen.filter(a => !offLt(a, endO)).getOrElse(endO))
    val batch = if (readCdf) {
      import org.apache.spark.sql.functions.{lit, timestamp_millis}
      start match {
        case Some(s) if !offLt(ver(s), endO) => emptyBatch()
        case Some(s) =>
          DeltaReader.readChangeFeed(spark, table, ver(s)._1, endVersion = Some(endO._1))
        case None => startingVersion match {
          case Some("latest") => emptyBatch()
          case Some(v) =>
            DeltaReader.readChangeFeed(spark, table, v.toLong - 1, endVersion = Some(endO._1))
          case None =>
            // initial snapshot serves as `insert` rows at the anchor
            // version (delta-spark's readChangeFeed stream seed)
            val ts = DeltaLog.commitStatus(spark, table, endO._1).map(_.getModificationTime)
              .getOrElse(System.currentTimeMillis())
            DeltaReader.read(spark, table, versionAsOf = Some(endO._1))
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(endO._1))
              .withColumn("_commit_timestamp", timestamp_millis(lit(ts)))
        }
      }
    } else start match {
      case Some(s) => changesBatch(ver(s), endO)
      case None => startingVersion match {
        case Some("latest") => emptyBatch() // tail from here; endO is the new baseline
        case Some(v)        => changesBatch((v.toLong - 1, None), endO) // v's changes included
        case None           =>
          // snapshot quantum: the no-anchor first offer is never partial
          DeltaReader.read(spark, table, versionAsOf = Some(endO._1))
      }
    }
    // v1 contract: the returned frame must carry isStreaming=true
    org.apache.spark.sql.graft.bridge.streamingFrame(batch)
  }

  /** The adds of the window (since, end] — partial bounds slice a
    * version's PATH-SORTED adds, so a split commit re-assembles
    * exactly across triggers and restarts. */
  private def changesBatch(since: (Long, Option[Long]), end: (Long, Option[Long])): DataFrame = {
    if (!offLt(since, end)) return emptyBatch()
    val (sV, sPart) = since
    val (eV, ePart) = end
    val firstV = if (sPart.isDefined) sV else sV + 1
    val addsByVersion: Seq[(Long, Seq[String])] = (firstV to eV).flatMap { v =>
      val (adds, hasRemoves, changesMeta) = versionMetaOf(v)
      require(!changesMeta,
        s"graft-delta: version $v changes the table metadata/protocol under the stream — " +
          "a stream's schema must be constant; restart the query to adopt it")
      if (hasRemoves) {
        // rows already emitted cannot be retracted from an append
        // stream — refuse, or skip the whole version on request
        require(skipChangeCommits,
          s"graft-delta: version $v removes data (dataChange=true) — an append stream " +
            "cannot retract emitted rows. Set skip_change_commits=true to skip such " +
            "versions, or re-baseline with a batch read")
        None
      } else {
        val from = if (v == sV) sPart.getOrElse(0L).toInt else 0
        val until = if (v == eV) ePart.map(_.toInt).getOrElse(adds.size) else adds.size
        val slice = adds.slice(from, until).map(_._1)
        if (slice.isEmpty) None else Some(v -> slice)
      }
    }
    if (addsByVersion.isEmpty) emptyBatch()
    else if (!skipChangeCommits)
      // with removes refused, every in-window add is live at eV — a
      // multi-version catch-up is ONE pinned scan, not O(versions)
      // unioned plans
      DeltaReader.readSubsetAt(spark, table, eV, addsByVersion.flatMap(_._2).toSet)
    else
      // under skip_change_commits a SKIPPED later version may have
      // removed an earlier in-window add, so each version scans as of
      // itself (where its adds are live by construction)
      addsByVersion.map { case (v, adds) =>
        DeltaReader.readSubsetAt(spark, table, v, adds.toSet) }
        .reduce(_ unionByName _)
  }

  override def stop(): Unit = ()
}

/** Shared by the graft-delta and graft-iceberg sources: a starting
  * anchor may seed the admission-control cap only BEFORE the query's
  * first offset is logged (createSource runs before the first offset
  * write) — anchoring a restarted query on its starting option could
  * offer an offset behind the checkpoint, an offset regression that
  * re-emits rows on the next restart. */
private[readers] object StreamAnchors {
  def freshQuery(spark: SparkSession, metadataPath: String): Boolean = scala.util.Try {
    metadataPath.isEmpty || {
      val off = new Path(new Path(metadataPath).getParent.getParent, "offsets")
      val fs = off.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !fs.exists(off) || fs.listStatus(off).isEmpty
    }
  }.getOrElse(false)
}
