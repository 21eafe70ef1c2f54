package graft.readers

import com.fasterxml.jackson.databind.ObjectMapper
import graft.readers.DeltaLog.{AddFile, Snapshot}
import java.net.URI
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Native Delta Lake WRITER (append / overwrite, published transaction-
  * log protocol) — the read path's counterpart, so a graft pipeline can
  * land results in a table the native reader (and delta-spark, and the
  * `graft-delta` streaming source) serves, with NO connector jar.
  *
  * Commit protocol: data files write to a staging directory (the
  * ordinary distributed `df.write.parquet`, `partitionBy` respected)
  * and move into the table by rename. The table state comes from
  * [[DeltaLog]], the log module the reader shares: every operation's
  * commit loop takes ONE head snapshot per attempt (cached, validated
  * by the log-tail probe, read under `DeltaReader.DefaultMaxLiveFiles`)
  * and publishes ONE commit json at its version + 1 through
  * [[DeltaLog.publish]] — atomic create-no-overwrite, the primitive
  * delta-spark's HDFS LogStore uses. A concurrent writer winning the
  * version race surfaces as a failed create; the attempt re-runs
  * against the new head, so appends (blind, conflict-free by
  * construction) land at the next version, overwrites re-resolve the
  * live set they tombstone, and row-level rewrites re-check their
  * guards (their removes must name the winner's state, not the stale
  * one). The writer's own replay gate: classic single-file checkpoints
  * only (the kind it publishes). Object stores without atomic create
  * (raw S3) are exactly where delta-spark requires a coordinating
  * LogStore — this writer inherits the same caveat.
  *
  * Each add carries `partitionValues` (parsed from the staged
  * partition directories, Spark's own escaping decoded) and a `stats`
  * JSON (numRecords + per-primitive-column min/max/nullCount read from
  * the parquet FOOTERS on the driver for the just-written files) — so
  * tables this writer produces prune under the reader's stats skipping
  * and partition pruning immediately.
  *
  * `txn` writes the app-level transaction action the streaming sink
  * uses for exactly-once: a commit carrying {"txn": {appId, version}}
  * marks the batch; [[lastTxnVersion]] reads the last committed version
  * of an appId from the head snapshot, and the sink skips batches at or
  * below it (idempotent addBatch under retries and restarts).
  *
  * Schema contract: writes against an existing table must match its
  * schema (names + types, case-insensitive) and partitioning;
  * mismatches refuse loudly. `mergeSchema = true` (delta-spark's
  * option) admits the ADD-NULLABLE-COLUMNS evolution profile: new
  * columns append to the schema via a metaData action in the same
  * commit, old files null them out under the by-name read, frames may
  * omit non-partition table columns; type changes still refuse (the
  * connector's widening is out of profile).
  */
object DeltaWriter {

  private val mapper = new ObjectMapper()
  private def js(s: String): String = mapper.writeValueAsString(s)

  // ---- the commit protocol ------------------------------------------

  /** The head snapshot every operation starts from. The writer's own
    * gate: it replays only classic single-file checkpoints (the kind it
    * publishes) — a multipart/v2 one refuses. */
  private def classicOnly(s: Snapshot): Snapshot = {
    require(Set("none", "classic").contains(s.checkpointKind),
      s"delta writer: checkpoint ${s.checkpointVersion} is not a classic single-file checkpoint — " +
        "multipart/v2 checkpoints are outside this writer's replay profile; " +
        "read/maintain the table with the delta-spark connector")
    s
  }
  private def head(spark: SparkSession, table: String, version: Option[Long] = None): Snapshot =
    classicOnly(DeltaLog.snapshot(spark, table, version))

  /** The optimistic commit loop every operation shares: each attempt
    * takes ONE snapshot (`take`; None before the first commit) and
    * publishes `attempt`'s actions at its version + 1. A rival that
    * took the version collides at the create and the attempt re-runs
    * against the new head — so an attempt's guards always judge the
    * state it commits over. `attempt` returning None commits nothing. */
  private def commitLoop(spark: SparkSession, table: String, op: String, maxRetries: Int,
      take: => Option[Snapshot])(attempt: Option[Snapshot] => Option[Seq[String]]): Unit = {
    var tries = 0
    var done = false
    while (!done) {
      val snap = take
      attempt(snap) match {
        case None => done = true
        case Some(lines) =>
          val ok = DeltaLog.publish(spark, table, snap.fold(0L)(_.version + 1), lines)
          done = ok.isSuccess
          if (!done) {
            tries += 1
            require(tries <= maxRetries,
              s"delta $op: lost the commit race $maxRetries times at $table — giving up " +
                s"(${ok.failed.get.getMessage})")
          }
      }
    }
  }
  /** [[commitLoop]] over an existing table's head. */
  private def commitOnHead(spark: SparkSession, table: String, op: String, maxRetries: Int)(
      attempt: Snapshot => Option[Seq[String]]): Unit =
    commitLoop(spark, table, op, maxRetries, Some(head(spark, table)))(s => attempt(s.get))

  private def pvJson(pv: Map[String, Option[String]]): String =
    pv.map { case (k, v) => s"${js(k)}:${v.fold("null")(js)}" }.mkString("{", ",", "}")
  /** add.path is URL-encoded; the reader percent-decodes it back. */
  private def encodePath(rel: String): String =
    new URI(null, null, "/" + rel, null).getRawPath.stripPrefix("/")
  private def addLine(path: String, pv: Map[String, Option[String]], size: Long, mtime: Long,
      dataChange: Boolean, stats: Option[String], dv: Option[String] = None): String =
    s"""{"add":{"path":${js(path)},"partitionValues":${pvJson(pv)},"size":$size,""" +
      s""""modificationTime":$mtime,"dataChange":$dataChange""" +
      dv.map(d => s""","deletionVector":$d""").getOrElse("") +
      stats.map(st => s""","stats":${js(st)}""").getOrElse("") + "}}"
  /** Removes carry partitionValues (delta-spark does the same): the
    * change feed's delete derivation needs the tuple, since data files
    * do not store partition columns. */
  private def removeLine(path: String, pv: Map[String, Option[String]], dataChange: Boolean): String =
    s"""{"remove":{"path":${js(path)},"deletionTimestamp":${System.currentTimeMillis()},""" +
      s""""dataChange":$dataChange,"partitionValues":${pvJson(pv)}}}"""
  private def commitInfo(operation: String, params: String = ""): String =
    s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"operation":${js(operation)}""" +
      (if (params.isEmpty) "" else s""","operationParameters":$params""") + "}}"
  /** The metaData action carrying `edit` of the head's own metaData. */
  private def metaLine(head: Snapshot)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
    val md = mapper.readTree(head.metaJson).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(md)
    s"""{"metaData":$md}"""
  }

  /** Write `df` into the Delta table at `table`.
    * mode: "append" | "overwrite" | "errorifexists" (create-only). */
  def write(spark: SparkSession, dfIn: DataFrame, table: String,
      mode: String = "append", partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None, maxRetries: Int = 10,
      replaceWhere: Option[String] = None, mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false,
      tableConf: Map[String, String] = Map.empty,
      // CREATE-only declarations (delta-spark's DDL surface): NOT NULL
      // columns and generated columns (delta.generationExpression)
      notNull: Seq[String] = Nil,
      generatedColumns: Map[String, String] = Map.empty): Unit = {
    require(Set("append", "overwrite", "errorifexists").contains(mode),
      s"delta writer: unknown mode '$mode' (append | overwrite | errorifexists)")
    require(replaceWhere.isEmpty || mode == "overwrite",
      "delta writer: replaceWhere requires mode = overwrite")
    // overwriteSchema (delta-spark's option): a full-recompute
    // overwrite REPLACES the schema and partitioning outright — the
    // commit's metaData states the frame's own layout. Streams refuse
    // the metadata change (restart to adopt), the change feed gates it
    // (non-prefix evolution), both by their existing rules.
    require(!overwriteSchema || mode == "overwrite",
      "delta writer: overwriteSchema requires mode = overwrite")
    require(!(overwriteSchema && mergeSchema),
      "delta writer: overwriteSchema and mergeSchema are mutually exclusive")
    require(!(overwriteSchema && replaceWhere.isDefined),
      "delta writer: overwriteSchema cannot combine with replaceWhere (a partition-scoped " +
        "overwrite keeps rows the old schema wrote)")
    val f = DeltaLog.fs(spark, table)
    val tablePath = new Path(table)
    val exists = DeltaLog.exists(spark, table)
    require(!(exists && mode == "errorifexists"),
      s"delta writer: table already exists at $table (mode errorifexists)")
    require(tableConf.isEmpty || !exists,
      s"delta writer: tableConf applies at CREATE only — $table already exists " +
        "(silently ignoring the properties would be worse than refusing; alter table " +
        "configuration with the delta-spark connector)")
    // Behavior-bearing `delta.*` properties are ALLOWLISTED: writing
    // e.g. delta.columnMapping.mode=name or delta.enableDeletionVectors
    // verbatim would create a table whose configuration contradicts the
    // staged files (logical column names, no physicalName/id metadata,
    // minReader 1 / minWriter 2) — silent corruption for compliant
    // readers instead of this writer's refuse-loudly stance. Only keys
    // whose semantics this writer actually honors pass; custom non-
    // delta.* properties are inert metadata and pass verbatim.
    val honoredDeltaKeys = Set("delta.enablechangedatafeed", "delta.enabledeletionvectors",
      "delta.appendonly", "delta.columnmapping.mode")
    val unsupported = tableConf.keys.filter(k =>
      k.toLowerCase.startsWith("delta.") && !honoredDeltaKeys.contains(k.toLowerCase) &&
        !k.toLowerCase.startsWith("delta.constraints."))
    require(unsupported.isEmpty,
      s"delta writer: tableConf propert${if (unsupported.size == 1) "y" else "ies"} " +
        s"${unsupported.mkString(", ")} would declare behavior this writer does not " +
        "implement (the staged files would contradict the configuration, corrupting " +
        "compliant readers); create the table with the delta-spark connector — " +
        "supported here: delta.enableChangeDataFeed, delta.enableDeletionVectors, " +
        "delta.appendOnly, delta.constraints.<name>")
    // honored keys canonicalize to their exact protocol spelling: the
    // gate admits any case, but the honor paths (CDF/DV activation
    // below, `cdfEnabled`/`dvEnabled` reads) match exact-case — a
    // Delta.EnableChangeDataFeed written verbatim would pass the gate
    // yet silently never activate, the silent-ignore outcome the gate
    // exists to prevent
    val canonicalKeys = Seq("delta.enableChangeDataFeed", "delta.enableDeletionVectors",
      "delta.appendOnly", "delta.columnMapping.mode")
    val tableConfC = tableConf.map { case (k, v) =>
      canonicalKeys.find(_.equalsIgnoreCase(k)).getOrElse(k) -> v
    }

    // against an existing table, the incoming frame must match its
    // schema and partitioning — silently writing a drifted schema
    // would corrupt every later read. `mergeSchema` (delta-spark's
    // option) relaxes this to the ADD-NULLABLE-COLUMNS profile: common
    // columns must keep their exact types (widening stays with the
    // connector), frame-only columns append to the schema as nullable,
    // table-only columns may be absent from the frame (the new files
    // simply lack them — a by-name parquet read nulls them out, the
    // same way old files null out the added columns)
    require(notNull.isEmpty || !exists,
      s"delta writer: notNull applies at CREATE only — $table already exists " +
        "(NOT NULL on an existing table needs a metadata commit; alter it with " +
        "the delta-spark connector)")
    require(generatedColumns.isEmpty || !exists,
      s"delta writer: generatedColumns applies at CREATE only — $table already exists")
    require(notNull.forall(n => dfIn.schema.fieldNames.exists(_.equalsIgnoreCase(n))),
      s"delta writer: notNull column(s) ${notNull.filterNot(n =>
        dfIn.schema.fieldNames.exists(_.equalsIgnoreCase(n))).mkString(",")} " +
        "not in the frame")
    val existingHead =
      if (overwriteSchema) None else DeltaLog.latest(spark, table).map(classicOnly)

    // Generated columns (delta.generationExpression — the table's
    // declaration, or the create-time param): an ABSENT generated
    // column is COMPUTED here, so the staged files carry real values
    // and the reader's generated-partition pruning has something to
    // prune on; a PRESENT one must EQUAL its expression (the
    // protocol's writer requirement) — that rides the row gates below.
    val genExprs: Seq[(String, String)] = existingHead match {
      case Some(h) => generationExprs(h)
      case None => generatedColumns.toSeq.sortBy(_._1)
    }
    val df: DataFrame = {
      import org.apache.spark.sql.functions.{col, expr, lit}
      val tblSchemaOpt = existingHead.map(_.schema)
      val genTypeOf: String => Option[DataType] = n =>
        tblSchemaOpt.flatMap(_.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType))
      val (absentGen, presentGen) = genExprs.partition { case (n, _) =>
        !dfIn.schema.fieldNames.exists(_.equalsIgnoreCase(n)) }
      val computed = absentGen.foldLeft(dfIn) { case (d, (n, e)) =>
        d.withColumn(n, genTypeOf(n).map(expr(e).cast(_)).getOrElse(expr(e))) }
      // computed columns appended at the END; the existing-table schema
      // gate below is positional, so reorder to the table's order
      // (frame-only mergeSchema columns keep their relative order)
      val ordered = tblSchemaOpt match {
        case Some(ts) if absentGen.nonEmpty =>
          val tableCols = ts.fieldNames.toSeq.filter(n =>
            computed.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
          val extras = computed.schema.fieldNames.toSeq.filterNot(n =>
            ts.fieldNames.exists(_.equalsIgnoreCase(n)))
          computed.select((tableCols ++ extras).map(col): _*)
        case _ => computed
      }
      // row gates: the table's CHECK constraints + invariants + NOT
      // NULL fields, plus present-generated-column equality and the
      // create-time notNull declaration — evaluated IN the staging
      // scan (zero extra passes). A gate may reference a table column
      // ABSENT from the frame (it stages as null): augment with null
      // literals for evaluation, then select the real columns back.
      val genGates = presentGen.map { case (n, e) =>
        s"$n GENERATED AS ($e)" -> s"`$n` <=> ($e)" }
      val createGates = notNull.map(n =>
        s"$n NOT NULL" -> s"`$n` IS NOT NULL") ++
        // CHECK constraints declared at create (tableConf
        // delta.constraints.*) gate this first write's own rows too
        tableConfC.collect { case (k, v) if k.toLowerCase.startsWith("delta.constraints.") =>
          s"${k.substring("delta.constraints.".length)} CHECK ($v)" -> v }.toSeq.sortBy(_._1)
      val gates = existingHead.map(rowGates).getOrElse(Nil) ++ genGates ++ createGates
      if (gates.isEmpty) ordered
      else {
        val absentTbl = tblSchemaOpt.map(_.fields.toSeq).getOrElse(Nil)
          .filterNot(fl => ordered.schema.fieldNames.exists(_.equalsIgnoreCase(fl.name)))
        val aug = absentTbl.foldLeft(ordered)((d, fl) =>
          d.withColumn(fl.name, lit(null).cast(fl.dataType)))
        withRowGates(aug, gates, table, "write")
          .select(ordered.schema.fieldNames.map(col): _*)
      }
    }
    existingHead.foreach { head =>
      if (mode == "overwrite") requireNotAppendOnly(head, table, "writer")
      // a column-mapped table's data files must carry PHYSICAL names
      // (with field ids): round 12 stages them by renaming the frame's
      // logical columns through the schema's mapping metadata. The
      // profile is exact-schema append/overwrite over simple-typed
      // columns — evolution on mapped tables (fresh physicalName/id
      // assignment racing concurrent evolutions) stays with the
      // connector, as do nested mapped columns (inner physical names).
      if (head.mappingMode != "none") {
        require(Set("name", "id").contains(head.mappingMode),
          s"delta writer: unknown column mapping mode '${head.mappingMode}' at $table")
        val expected = head.schema
        require((expected.fields ++ df.schema.fields).forall(fl => fl.dataType match {
          case _: StructType | _: ArrayType | _: MapType => false
          case _ => true
        }), s"delta writer: $table is column-mapped with NESTED columns — inner " +
          "physical names are outside this writer's profile; write it with the " +
          "delta-spark connector")
      }
      val expected = head.schema
      val got = df.schema
      if (mergeSchema) {
        val conflicts = got.fields.flatMap { b =>
          expected.fields.find(_.name.equalsIgnoreCase(b.name))
            .filter(_.dataType != b.dataType).map(a => (a.name, a.dataType, b.dataType))
        }
        require(conflicts.isEmpty,
          s"delta writer: mergeSchema cannot change column types — " +
            conflicts.map { case (n, a, b) => s"$n: ${a.simpleString} -> ${b.simpleString}" }
              .mkString(", ") + "; type widening stays with the connector")
      } else {
        val same = expected.fields.length == got.fields.length &&
          expected.fields.zip(got.fields).forall { case (a, b) =>
            a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType
          }
        require(same,
          s"delta writer: schema mismatch — table has " +
            s"${expected.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}, " +
            s"frame has ${got.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}; " +
            "pass mergeSchema = true to add nullable columns (other evolution stays with the connector)")
      }
      require(head.partitionCols.map(_.toLowerCase) == partitionBy.map(_.toLowerCase) ||
          (partitionBy.isEmpty && head.partitionCols.nonEmpty),
        s"delta writer: partitioning mismatch — table is partitioned by " +
          s"[${head.partitionCols.mkString(",")}], write requested [${partitionBy.mkString(",")}]")
      // every partition column must ride along in the frame — a merged
      // append cannot drop the layout's own columns
      require(head.partitionCols.forall(pc => df.schema.fieldNames.exists(_.equalsIgnoreCase(pc))),
        s"delta writer: the frame is missing partition column(s) " +
          s"${head.partitionCols.filterNot(pc => df.schema.fieldNames.exists(_.equalsIgnoreCase(pc))).mkString(",")}")
    }
    val partCols =
      if (overwriteSchema) partitionBy
      else existingHead.map(_.partitionCols).getOrElse(partitionBy)

    // replaceWhere (partition-scoped overwrite): the predicate must
    // cover ONLY partition columns — exact per-file evaluation is then
    // possible (a data-column predicate would need row rewrites) — and
    // every incoming row must satisfy it, or rows would land in
    // partitions the overwrite claims not to touch
    replaceWhere.foreach { rw =>
      require(partCols.nonEmpty, "delta writer: replaceWhere needs a partitioned table")
      val conjs = FileSkipping.conjuncts(rw)
      val perConj = conjs.map(FileSkipping.usableRefs)
      // EVERY conjunct must analyze — a silently dropped one (qualified
      // ref, nondeterministic call) would pass the gate here and fail
      // only inside the commit loop, after the frame staged
      require(conjs.nonEmpty && perConj.forall(_.isDefined),
        s"delta writer: replaceWhere '$rw' has conjunct(s) this writer cannot analyze " +
          "(qualified, nondeterministic or subquery references); use bare partition column names")
      val refs = perConj.flatten.flatten.toSet
      require(refs.nonEmpty && refs.subsetOf(partCols.map(_.toLowerCase).toSet),
        s"delta writer: replaceWhere '$rw' must reference partition columns only " +
          s"([${partCols.mkString(",")}]); data-column predicates need the connector's row rewrite")
      val violating = rethrowGate(df.where(s"NOT ($rw) OR ($rw) IS NULL").limit(1).count())
      require(violating == 0,
        s"delta writer: incoming rows violate replaceWhere '$rw' — they would land " +
          "outside the partitions being replaced")
    }

    // 1. stage the data files (distributed write, partition dirs laid
    // out by Spark itself). A column-mapped table stages PHYSICAL
    // column names with field ids (renamed through the schema's
    // mapping metadata), so partition dirs, partitionValues keys and
    // footer stats all carry the physical identity the mapped read
    // resolves — delta-spark's own layout.
    val mappedHead = existingHead.filter(_.mappingMode != "none")
    // CREATE with column mapping (tableConf delta.columnMapping.mode):
    // physicalName (col-<uuid>) and id (1..n) assign HERE — delta-
    // spark's CREATE shape — so staging and the commit's metaData carry
    // the identical mapping. The profile matches appends: top-level
    // simple columns only.
    val createMappedFields: Option[Seq[StructField]] =
      tableConfC.get("delta.columnMapping.mode").filterNot(_ => exists).map { m =>
        require(Set("name", "id").contains(m),
          s"delta writer: unknown delta.columnMapping.mode '$m' (name | id)")
        require(df.schema.fields.forall(fl => fl.dataType match {
          case _: StructType | _: ArrayType | _: MapType => false
          case _ => true
        }), "delta writer: column mapping with NESTED columns is outside this " +
          "writer's profile (inner physical names); create with the delta-spark connector")
        df.schema.fields.toSeq.zipWithIndex.map { case (fl, i) =>
          val mb = new MetadataBuilder().withMetadata(fl.metadata)
          mb.putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          mb.putLong("delta.columnMapping.id", i + 1L)
          fl.copy(metadata = mb.build())
        }
      }
    // mergeSchema on a mapped table: frame-only columns are assigned a
    // FRESH physicalName (col-<uuid>, delta-spark's shape) and id
    // (maxColumnId + k) HERE, so staging and the commit's merged
    // metaData carry the identical mapping; the per-attempt exact
    // schemaJson guard below refuses any rival evolution, so the
    // pre-assigned ids can never collide with a racer's
    val mappedNewFields: Seq[StructField] = mappedHead match {
      case Some(head) if mergeSchema =>
        val expected = head.schema
        val confMaxId = head.configuration.get("delta.columnMapping.maxColumnId")
          .flatMap(_.toLongOption)
        val fieldMaxId = expected.fields.flatMap(fl =>
          if (fl.metadata.contains("delta.columnMapping.id"))
            Some(fl.metadata.getLong("delta.columnMapping.id")) else None)
          .maxOption.getOrElse(0L)
        val baseId = math.max(confMaxId.getOrElse(0L), fieldMaxId)
        df.schema.fields.toSeq
          .filterNot(b => expected.fields.exists(_.name.equalsIgnoreCase(b.name)))
          .zipWithIndex.map { case (fl, i) =>
            val mb = new MetadataBuilder()
            mb.putString("delta.columnMapping.physicalName",
              s"col-${java.util.UUID.randomUUID()}")
            mb.putLong("delta.columnMapping.id", baseId + i + 1)
            StructField(fl.name, fl.dataType, nullable = true, mb.build())
          }
      case _ => Nil
    }
    val (stageDf, stagePartCols, statsSchema, statsPartCols) = (mappedHead, createMappedFields) match {
      case (None, None) => (df, partCols, df.schema, partCols)
      case (mh, cm) =>
        val allMapped: Seq[StructField] = mh match {
          case Some(head) => head.schema.fields.toSeq ++ mappedNewFields
          case None => cm.get
        }
        def physOf(fl: StructField): (String, Option[Long]) = (
          if (fl.metadata.contains("delta.columnMapping.physicalName"))
            fl.metadata.getString("delta.columnMapping.physicalName") else fl.name,
          if (fl.metadata.contains("delta.columnMapping.id"))
            Some(fl.metadata.getLong("delta.columnMapping.id")) else None)
        def fieldOf(logical: String): StructField =
          allMapped.find(_.name.equalsIgnoreCase(logical)).get
        val renamed = df.select(df.schema.fields.map { fl =>
          val (phys, fid) = physOf(fieldOf(fl.name))
          val mb = new MetadataBuilder()
          fid.foreach(mb.putLong("parquet.field.id", _))
          df(fl.name).as(phys, mb.build())
        }.toSeq: _*)
        val physParts = partCols.map(pc => physOf(fieldOf(pc))._1)
        val physSchema = StructType(allMapped.map(fl =>
          StructField(physOf(fl)._1, fl.dataType)))
        (renamed, physParts, physSchema, physParts)
    }
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    val writer = stageDf.write.mode("overwrite")
    rethrowGate {
      (if (stagePartCols.nonEmpty) writer.partitionBy(stagePartCols: _*) else writer)
        .parquet(staging.toString)
    }
    try {
      // 2. move staged parquet files into the table, keeping their
      // partition-relative paths (names carry task UUIDs — no clashes)
      val staged = listParquet(f, staging)
      val stagingQ = f.makeQualified(staging).toString.stripSuffix("/")
      val adds = staged.map { st =>
        val full = st.getPath.toString
        require(full.startsWith(stagingQ), s"delta writer: staged file $full outside $stagingQ")
        val rel = full.stripPrefix(stagingQ).stripPrefix("/")
        val dest = new Path(tablePath, rel)
        Option(dest.getParent).foreach(f.mkdirs(_))
        require(f.rename(st.getPath, dest),
          s"delta writer: rename ${st.getPath} -> $dest failed")
        val destSt = f.getFileStatus(dest)
        AddSpec(rel, partitionValues(rel), destSt.getLen, destSt.getModificationTime,
          statsJson(f, dest, statsSchema, statsPartCols))
      }
      // 3. publish the commit, optimistic-concurrency loop: each attempt
      // takes one snapshot (none before the first commit) and commits at
      // its version + 1
      commitLoop(spark, table, "writer", maxRetries,
          DeltaLog.latest(spark, table).map(classicOnly)) { snap =>
        val version = snap.fold(0L)(_.version + 1L)
        // a mapped CREATE that lost its race cannot degrade to an
        // append: the staged files carry THIS create's physical names/
        // ids, which can never bind to a rival's mapping
        require(createMappedFields.isEmpty || version == 0L,
          s"delta writer: a table appeared at $table under this mapped CREATE — the " +
            "staged files' physical names cannot bind to the rival's mapping; re-run")
        // the attempt's snapshot serves the metaData branches and the
        // overwrite tombstones alike: each sees the post-race state
        lazy val headNow: Snapshot = snap.get
        if (version > 0L && !overwriteSchema) {
          // the up-front schema/partitioning validation ran against the
          // PRE-race head; a rival overwriteSchema can replace both
          // between that check and a winning retry, and the staged
          // files/dirs cannot adapt — re-guard per attempt (the Iceberg
          // writer's stance) and refuse on drift
          require(headNow.partitionCols.map(_.toLowerCase) == partCols.map(_.toLowerCase),
            s"delta writer: the partitioning of $table changed under this write " +
              s"(now [${headNow.partitionCols.mkString(",")}], staged " +
              s"[${partCols.mkString(",")}]); re-run against the new layout")
          // Column-mapped appends staged files under the PRE-race head's
          // PHYSICAL names/ids; a logical-name comparison would pass a
          // rival drop+re-add that kept names but regenerated
          // physicalName/id, and the committed files' physical columns
          // would then resolve to nothing (mapped readers null every
          // column). Exact metadata equality — rewriteCommit's stance.
          existingHead.filter(_.mappingMode != "none").foreach { h =>
            require(headNow.schemaJson == h.schemaJson,
              s"delta writer: the column-mapping metadata of $table changed under this " +
                "write (a concurrent writer replaced physical names/ids the staged files " +
                "carry); re-run against the new mapping")
          }
          if (!mergeSchema) {
            val expectedNow = headNow.schema
            val same = expectedNow.fields.length == df.schema.fields.length &&
              expectedNow.fields.zip(df.schema.fields).forall { case (a, b) =>
                a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType
              }
            require(same,
              s"delta writer: the schema of $table changed under this write (a concurrent " +
                "writer replaced it); re-run against the new schema")
          }
        }
        val actions = Seq.newBuilder[String]
        if (version == 0L) {
          // table properties at CREATE: delta.enableChangeDataFeed=true
          // turns on cdc emission for the row-level rewrites (writer
          // version 4 per the protocol); delta.enableDeletionVectors
          // lets deleteWhere commit merge-on-read vectors — a TABLE
          // FEATURE, so reader 3 / writer 7 with the feature lists
          // (old readers must not silently resurrect deleted rows)
          val cdfOn0 = tableConfC.get("delta.enableChangeDataFeed")
            .exists(_.equalsIgnoreCase("true"))
          val dvOn0 = tableConfC.get("delta.enableDeletionVectors")
            .exists(_.equalsIgnoreCase("true"))
          val mapOn0 = createMappedFields.isDefined
          // a mapped create records maxColumnId next to the mode
          val confJson = (tableConfC ++ createMappedFields.map(fs =>
              "delta.columnMapping.maxColumnId" -> fs.size.toString))
            .map { case (k, v) => s"${js(k)}:${js(v)}" }
            .mkString("{", ",", "}")
          val consOn0 = tableConfC.keys.exists(_.toLowerCase.startsWith("delta.constraints."))
          actions +=
            (if (dvOn0) {
              val wf = Seq("deletionVectors") ++ (if (cdfOn0) Seq("changeDataFeed") else Nil) ++
                (if (genExprs.nonEmpty) Seq("generatedColumns") else Nil) ++
                (if (consOn0) Seq("checkConstraints") else Nil) ++
                (if (mapOn0) Seq("columnMapping") else Nil)
              val rf = Seq("deletionVectors") ++ (if (mapOn0) Seq("columnMapping") else Nil)
              s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
                s""""readerFeatures":[${rf.map(js).mkString(",")}],""" +
                s""""writerFeatures":[${wf.map(js).mkString(",")}]}}"""
            } else {
              // generated columns need writer v4 (same tier as CDF);
              // CHECK constraints writer v3; column mapping reader 2 +
              // writer 5
              val wv = Seq(2, if (cdfOn0 || genExprs.nonEmpty) 4 else 2,
                if (consOn0) 3 else 2, if (mapOn0) 5 else 2).max
              val rv = if (mapOn0) 2 else 1
              s"""{"protocol":{"minReaderVersion":$rv,"minWriterVersion":$wv}}"""
            })
          // the recorded schema is NULLABLE except declared NOT NULL
          // columns (delta-spark's ImplicitMetadataOperation stance: a
          // frame's incidental nullable=false — every toDF primitive —
          // must not become an accidental constraint every later append
          // pays to re-prove); generated columns carry their expression
          // as the protocol's delta.generationExpression metadata, and
          // a mapped create's fields carry the physicalName/id the
          // staged files were written under
          val createBase = createMappedFields.getOrElse(df.schema.fields.toSeq)
          val createSchema = StructType(createBase.map { fl =>
            val mb = new MetadataBuilder().withMetadata(fl.metadata)
            genExprs.find(_._1.equalsIgnoreCase(fl.name)).foreach { case (_, e) =>
              mb.putString("delta.generationExpression", e) }
            fl.copy(nullable = !notNull.exists(_.equalsIgnoreCase(fl.name)),
              metadata = mb.build())
          })
          actions += s"""{"metaData":{"id":${js(java.util.UUID.randomUUID().toString)},""" +
            s""""format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":${js(createSchema.json)},""" +
            s""""partitionColumns":[${partCols.map(js).mkString(",")}],""" +
            s""""configuration":$confJson,"createdTime":${System.currentTimeMillis()}}}"""
        } else if (overwriteSchema) {
          // the recompute's metaData states the frame's OWN layout;
          // id carries over from the head's metaData. A column-mapped
          // table refuses: its configuration demands physicalName/id
          // field metadata this plain schemaString cannot supply, and
          // carrying the mode over would break every compliant reader
          val mappingMode = headNow.mappingMode
          require(mappingMode == "none",
            s"delta writer: overwriteSchema on a column-mapped table (mode $mappingMode) — " +
              "the replacement schema would lack the mapping metadata the mode requires; " +
              "rewrite it with the delta-spark connector")
          // CHECK constraints live in configuration, not the schema —
          // they would silently survive the replacement and reference
          // columns it may have dropped
          requireNotAppendOnly(headNow, table, "writer")
          val consNow = headNow.constraints
          require(consNow.isEmpty,
            s"delta writer: overwriteSchema with CHECK constraint(s) " +
              s"${consNow.keys.toSeq.sorted.mkString(",")} declared — dropConstraint first " +
              "(they would survive referencing columns the new schema may drop)")
          // nullable like CREATE: the frame's incidental nullability
          // must not become a constraint
          actions += metaLine(headNow) { md =>
            md.put("schemaString", StructType(df.schema.fields.map(_.copy(nullable = true))).json)
            val pcArr = md.putArray("partitionColumns")
            partCols.foreach(pcArr.add)
          }
        } else if (mergeSchema) {
          // schema evolution rides THIS commit as a metaData action with
          // the merged schema (table order first, frame-only columns
          // appended nullable); id/configuration/createdTime carry over
          // from the head's own metaData. Re-resolved per attempt so a
          // rival evolution landing first merges against ITS result.
          val expected = headNow.schema
          // the up-front conflict check ran against the PRE-race head;
          // a rival evolution may have landed a same-named column of a
          // different type since — the staged files would then violate
          // the table schema, so the check re-runs per attempt
          val conflicts = df.schema.fields.flatMap { b =>
            expected.fields.find(_.name.equalsIgnoreCase(b.name))
              .filter(_.dataType != b.dataType).map(_.name)
          }
          require(conflicts.isEmpty,
            s"delta writer: the schema of $table changed under this write (a concurrent " +
              s"evolution landed conflicting type(s) for ${conflicts.mkString(",")}); " +
              "re-run the write against the new schema")
          val newFields = df.schema.fields.filterNot(b =>
            expected.fields.exists(_.name.equalsIgnoreCase(b.name)))
          if (newFields.nonEmpty) {
            // a mapped table's new columns carry the pre-assigned
            // physicalName/id the staged files were written under, and
            // configuration.maxColumnId advances past the new ids (the
            // exact-schemaJson guard above already refused any rival
            // evolution this attempt could race)
            val mergedTail: Seq[StructField] =
              if (mappedNewFields.nonEmpty) mappedNewFields
              else newFields.toSeq.map(_.copy(nullable = true))
            val merged = StructType(expected.fields ++ mergedTail)
            actions += metaLine(headNow) { md =>
              md.put("schemaString", merged.json)
              if (mappedNewFields.nonEmpty) {
                val newMax = mappedNewFields
                  .map(_.metadata.getLong("delta.columnMapping.id")).max
                md.withObject("/configuration").put("delta.columnMapping.maxColumnId", newMax.toString)
              }
            }
          }
        }
        txn.foreach { case (appId, v) =>
          actions += s"""{"txn":{"appId":${js(appId)},"version":$v}}"""
        }
        actions += commitInfo(if (mode == "overwrite" && version > 0) "WRITE.Overwrite" else "WRITE")
        if (mode == "overwrite" && version > 0) {
          // tombstone the CURRENT live set — re-resolved on every retry,
          // so a lost race never removes against a stale state; under
          // replaceWhere only files whose partition tuple MATCHES the
          // predicate (exact driver-local evaluation) are replaced
          val doomed: Seq[AddFile] = replaceWhere match {
            case None => headNow.liveFiles
            case Some(rw) =>
              val matching = matchingFiles(spark, headNow, rw).toSet
              headNow.liveFiles.filter(lf => matching.contains(lf.path))
          }
          doomed.foreach(e => actions += removeLine(e.path, e.partitionValues, dataChange = true))
        }
        adds.foreach(a => actions +=
          addLine(encodePath(a.path), a.partitionValues, a.size, a.mtime, dataChange = true, a.stats))
        Some(actions.result())
      }
    } finally scala.util.Try(f.delete(staging, true))
  }

  /** OPTIMIZE: BIN-PACK each partition's live data files toward
    * `targetFileBytes` (delta-spark's 1 GB default) — first-fit-
    * decreasing, each bin rewriting to one file — committed as a
    * dataChange=false rearrangement: readers see identical rows
    * (small-file pressure drops), the `graft-delta` stream emits
    * NOTHING for it (dataChange=false adds are old rows), and
    * `readChangesSince` windows refuse/skip it per their documented
    * gates. A 1 TB partition therefore lands as ~1 GB files, never one
    * giant one; single-file clean bins are left alone (oversized files
    * are not split — the connector's semantics). `where` scopes the
    * rewrite to matching PARTITIONS (delta-spark's `OPTIMIZE WHERE`;
    * partition-column predicates only, evaluated exactly per file) —
    * at 100 TB, compacting yesterday's partition must not touch the
    * other 10 years.
    *
    * Concurrency: the commit loop re-resolves the live set per retry
    * and REFUSES if any file it means to tombstone is no longer live
    * (a concurrent delete won that race — rewriting would resurrect
    * its rows). Returns the number of files compacted away. */
  def compact(spark: SparkSession, table: String, maxRetries: Int = 10,
      where: Option[String] = None, targetFileBytes: Long = 1L << 30): Int = {
    require(targetFileBytes >= 1, s"delta compact: targetFileBytes must be >= 1")
    val f = DeltaLog.fs(spark, table)
    val tablePath = new Path(table)
    val head = this.head(spark, table)
    // merge-on-read tables compact THROUGH their vectors: the group
    // scan masks deleted rows (dropping them from the rewrite), so
    // OPTIMIZE doubles as a vector purge — a lone DV'd file is a
    // compactable group of one
    val dvTable = head.dvEnabled && head.mappingMode == "none"
    if (!dvTable) requireRewritable(head, table, "compact", allowMapped = true)
    val byPath = head.liveFiles.map(lf => lf.path -> lf).toMap
    val schema = head.schema
    // mapped tables compact entirely in PHYSICAL terms: the group scan
    // reads physical names, the rewrite stages them back with field
    // ids, stats stay physical — no logical round trip is needed since
    // compaction never looks at a value
    val physOf = head.physicalNames
    val mappedT = head.mappingMode != "none"
    val dataSchema = StructType(schema.fields
      .filterNot(fl => head.partitionCols.contains(fl.name))
      .map(fl => StructField(physOf(fl.name), fl.dataType, fl.nullable)))
    // OPTIMIZE WHERE: the scope predicate covers partition columns
    // only (replaceWhere's analyzable-conjunct gate) and selects whole
    // partitions by exact per-file tuple evaluation
    val scoped: Option[Set[String]] = where.map { w =>
      require(head.partitionCols.nonEmpty,
        "delta compact: where needs a partitioned table")
      val conjs = FileSkipping.conjuncts(w)
      require(conjs.nonEmpty && conjs.map(FileSkipping.usableRefs).forall(_.isDefined),
        s"delta compact: where '$w' has conjunct(s) this writer cannot analyze; " +
          "use bare partition column names and deterministic expressions")
      val refs = conjs.flatMap(FileSkipping.usableRefs).flatten.toSet
      require(refs.nonEmpty && refs.subsetOf(head.partitionCols.map(_.toLowerCase).toSet),
        s"delta compact: where '$w' must reference partition columns only " +
          s"([${head.partitionCols.mkString(",")}])")
      matchingFiles(spark, head, w).toSet
    }
    // group live files by partition directory (the log path's prefix),
    // then FIRST-FIT-DECREASING bin-pack toward the target size — each
    // bin is one rewrite. Zero-copy groups (a shallow clone's ABSOLUTE
    // references) skip: their rewrite would land next to the SOURCE's
    // files — a zorder (staged under this root) materializes them
    // instead
    def packBins(ps: Seq[String]): Seq[Seq[String]] = {
      val sorted = ps.sortBy(p => -byPath(p).size)
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      val out = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[String]]()
      sorted.foreach { p =>
        val sz = byPath(p).size
        val i = sizes.indexWhere(_ + sz <= targetFileBytes)
        if (i >= 0) { sizes(i) += sz; out(i) += p }
        else { sizes += sz; out += scala.collection.mutable.ArrayBuffer(p) }
      }
      out.map(_.toSeq).toSeq
    }
    val groups: Seq[(String, Seq[String])] = head.live
      .filterNot { p =>
        val d = PathKeys.percentDecode(p); d.contains("://") || d.startsWith("/")
      }
      .filter(p => scoped.forall(_.contains(p)))
      .groupBy(p => p.split("/").dropRight(1).mkString("/"))
      .toSeq.sortBy(_._1)
      .flatMap { case (partDir, ps) =>
        packBins(ps).collect {
          case bin if bin.size > 1 || bin.exists(p => byPath(p).hasDv) => (partDir, bin)
        }
      }
    if (groups.isEmpty) return 0
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    try {
      val adds = groups.zipWithIndex.map { case ((partDir, oldPaths), binIdx) =>
        val srcs = oldPaths.map(p =>
          new Path(tablePath, PathKeys.percentDecode(p)).toString)
        val outDir = new Path(staging,
          (if (partDir.isEmpty) "out" else partDir) + s"/bin-$binIdx")
        val groupFiles = oldPaths.map(byPath)
        val raw = spark.read.schema(dataSchema).parquet(srcs: _*)
        val visible =
          if (!groupFiles.exists(_.hasDv)) raw
          else {
            import org.apache.spark.sql.functions.{broadcast, col}
            val ex = existingDvs(spark, f, table, groupFiles.filter(_.hasDv))
            val pairSchema = StructType(Seq(
              StructField(FileCol, StringType), StructField(RowIdxCol, LongType)))
            val rows = ex.toSeq.flatMap { case (k, ps2) =>
              ps2.map(p2 => org.apache.spark.sql.Row(k, p2)) }
            val edf = broadcast(spark.createDataFrame(
              spark.sparkContext.parallelize(rows, 1), pairSchema))
            raw.withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
              .withColumn(RowIdxCol, col("_metadata.row_index"))
              .join(edf, Seq(FileCol, RowIdxCol), "left_anti")
              .drop(FileCol, RowIdxCol)
          }
        val staged0 =
          if (!mappedT) visible
          else visible.select(visible.columns.toSeq.map { pn =>
            val fl = schema.fields.find(x => physOf(x.name) == pn).get
            val mb = new MetadataBuilder()
            if (fl.metadata.contains("delta.columnMapping.id"))
              mb.putLong("parquet.field.id", fl.metadata.getLong("delta.columnMapping.id"))
            visible(s"`$pn`").as(pn, mb.build())
          }: _*)
        staged0.coalesce(1).write.mode("overwrite").parquet(outDir.toString)
        val part = listParquet(f, outDir).head
        val rel = (if (partDir.isEmpty) "" else partDir + "/") + part.getPath.getName
        val dest = new Path(tablePath, PathKeys.percentDecode(rel))
        Option(dest.getParent).foreach(f.mkdirs(_))
        require(f.rename(part.getPath, dest),
          s"delta compact: rename ${part.getPath} -> $dest failed")
        val destSt = f.getFileStatus(dest)
        (oldPaths, AddSpec(rel, partitionValues(rel), destSt.getLen,
          destSt.getModificationTime, statsJson(f, dest,
            if (mappedT) StructType(schema.fields.map(fl =>
              StructField(physOf(fl.name), fl.dataType))) else schema,
            if (mappedT) head.partitionCols.map(pc => physOf.getOrElse(
              schema.fieldNames.find(_.equalsIgnoreCase(pc)).getOrElse(pc), pc))
            else head.partitionCols)))
      }
      commitOnHead(spark, table, "compact", maxRetries) { nowState =>
        val nowLive = nowState.live.toSet
        val gone = adds.flatMap(_._1).filterNot(nowLive.contains)
        require(gone.isEmpty,
          s"delta compact: file(s) ${gone.take(3).mkString(", ")} were removed by a " +
            "concurrent writer — rewriting them would resurrect deleted rows; re-run")
        val nowBy = nowState.liveFiles.map(lf => lf.path -> lf).toMap
        adds.flatMap(_._1).foreach { p =>
          // a rival vector landing on a file mid-compact would have its
          // deletions resurrected by the pre-rival group scan
          require(nowBy.get(p).forall(_.dvJson == byPath(p).dvJson),
            s"delta compact: the deletion vector of $p changed under this rewrite; re-run")
        }
        Some(commitInfo("OPTIMIZE") +: adds.flatMap { case (oldPaths, a) =>
          // compaction rewrites stay within one partition group, so the
          // rewritten add's tuple IS each removed file's tuple
          oldPaths.map(p => removeLine(p, a.partitionValues, dataChange = false)) :+
            addLine(encodePath(a.path), a.partitionValues, a.size, a.mtime, dataChange = false, a.stats)
        })
      }
      adds.map(_._1.size).sum
    } finally scala.util.Try(f.delete(staging, true))
  }

  /** OPTIMIZE ZORDER BY — rewrite the table's live files clustered on
    * a Z-order (Morton) curve over `zCols`, delta-spark's
    * `OPTIMIZE ... ZORDER BY (a, b)` (reference readers consume
    * whatever layout the connector optimized; the clustering itself is
    * the engine's own data-skipping lever). Each rewritten file then
    * covers a small range of EVERY clustering column, so the add.stats
    * min/max that [[graft.plans.FileSkipping]] prunes with become
    * selective for conjuncts on any subset of `zCols` — the point of
    * z-order over a plain sort, which serves only its leading column.
    *
    * Scale shape: pass 1 is a COLUMN-PRUNED scan (only `zCols` reach
    * the parquet reader) feeding one `approxQuantile` sketch per
    * column — `ranks` range boundaries, the sampled-boundary approach
    * of Spark's own RangePartitioner; pass 2 computes each row's rank
    * per column in pure Column arithmetic (no UDF: a sum of
    * boundary comparisons, then bit interleave via shift/and), range-
    * repartitions on (partition tuple, z) into ceil(bytes/target)
    * output partitions and stages through [[rewriteCommit]] — rows
    * never pass the driver. dataChange=false: streams and the change
    * feed correctly see a layout-only commit. Merge-on-read tables
    * z-order THROUGH their vectors (masked rows drop, vectors purge),
    * like compact. Returns the number of files rewritten. */
  def zorder(spark: SparkSession, table: String, zCols: Seq[String],
      targetFileBytes: Long = 128L << 20, ranks: Int = 64,
      maxRetries: Int = 10): Int = {
    import org.apache.spark.sql.functions._
    ZOrder.validate(zCols, ranks, targetFileBytes, "delta zorder")
    val f = DeltaLog.fs(spark, table)
    val head = this.head(spark, table)
    val dvTable = head.dvEnabled && head.mappingMode == "none"
    if (!dvTable) requireRewritable(head, table, "zorder", allowMapped = true)
    val schema = head.schema
    val names = zCols.map { c =>
      val fl = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"delta zorder: no column '$c' at $table (have: ${schema.fieldNames.mkString(", ")})"))
      require(!head.partitionCols.exists(_.equalsIgnoreCase(c)),
        s"delta zorder: '$c' is a partition column — its files already carry one value " +
          "each; z-order data columns")
      fl
    }
    if (head.liveFiles.isEmpty) return 0
    val visible = scanLiveVisible(spark, f, table, head, head.liveFiles)
    val zExpr = ZOrder.zColumn(visible,
      names.map(fl => fl.name -> fl.dataType), ranks, "delta zorder")
    val totalBytes = head.liveFiles.map(_.size).sum
    val nFiles = math.max(1L, math.min(
      (totalBytes + targetFileBytes - 1) / targetFileBytes, 1L << 20)).toInt
    val zc = "__graft_z"
    val orderCols = head.partitionCols.map(pc => col(s"`$pc`")) :+ col(zc)
    val arranged = visible.withColumn(zc, zExpr)
      .repartitionByRange(nFiles, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .drop(zc)
    rewriteCommit(spark, f, table, head, head.liveFiles, Some(arranged),
      "OPTIMIZE", None, maxRetries, dataChange = false)
    head.liveFiles.size
  }

  /** Write a classic checkpoint at the table's current version: one
    * parquet file holding the head snapshot's protocol, metaData, txn
    * and live add actions (each add as logged), plus the
    * `_last_checkpoint` pointer — after which commit jsons at or below
    * the checkpoint version may be aged out of the log (time travel to
    * them breaks, the documented trade) and replay cost stops growing
    * with table history. App transactions persist through checkpoints
    * (per the protocol), or the sink's exactly-once probe would forget
    * committed batches once the jsons age out. Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, table: String): Long = {
    val snap = head(spark, table)
    DeltaLog.writeCheckpoint(spark, table, snap)
    snap.version
  }

  /** Highest txn version committed for `appId`, or -1 — the streaming
    * sink's idempotence probe, read from the head snapshot (which keeps
    * the last txn per appId through checkpoints and log cleanup). */
  def lastTxnVersion(spark: SparkSession, table: String, appId: String): Long =
    DeltaLog.latest(spark, table).map(classicOnly).fold(-1L)(_.txnVersion(appId))

  /** DELETE WHERE with DATA-COLUMN predicates — copy-on-write per
    * touched file, the delta-spark `DeltaTable.delete` surface (the
    * `replaceWhere` partition gate stays for overwrite; this is the row
    * rewrite it points at).
    *
    * Shape at scale: ONE distributed detection scan over the live files
    * (predicate pushed to parquet, so footer stats skip clean files)
    * aggregates the matched count plus the distinct FILE KEYS — only
    * (file, count) cross the wire, never rows. Files with no matching
    * row are untouched: their bytes are not rewritten and their adds
    * stay live. Touched files rewrite their SURVIVORS (predicate false
    * or null — SQL delete semantics) through a second pruned scan, and
    * one commit publishes the remove/add pairs with dataChange=true, so
    * the change feed derives the row-level diff for free.
    *
    * Concurrency: the optimistic loop re-resolves the head per attempt
    * and REFUSES if the schema/partitioning changed, a touched file
    * vanished, or ANY new file landed (its rows were never scanned, so
    * committing would silently miss them — delta-spark's
    * ConcurrentAppendException stance). Returns the deleted row count. */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
      maxRetries: Int = 10): Long = {
    import org.apache.spark.sql.functions.{col, collect_set, count, expr, lit}
    val f = DeltaLog.fs(spark, table)
    val head = this.head(spark, table)
    requireNotAppendOnly(head, table, "delete")
    // the same analyzable-conjunct profile as replaceWhere: a
    // nondeterministic predicate would match DIFFERENT rows in the
    // detection scan and the rewrite scan — silent corruption — and a
    // silently unanalyzable conjunct would fail after staging
    val conjs = FileSkipping.conjuncts(predicate)
    require(conjs.nonEmpty && conjs.map(FileSkipping.usableRefs).forall(_.isDefined),
      s"delta delete: predicate '$predicate' has conjunct(s) this writer cannot analyze " +
        "(qualified/nested references, subqueries or nondeterministic functions); " +
        "use bare column names and deterministic expressions")
    // merge-on-read tables (delta.enableDeletionVectors) take the DV
    // path below, which handles existing vectors itself; everything
    // else keeps the rewrite gates (mapping / foreign DVs refuse)
    val dvPath = head.dvEnabled && head.mappingMode == "none"
    if (!dvPath) requireRewritable(head, table, "delete", allowMapped = true)
    if (head.liveFiles.isEmpty) return 0L
    // Pre-prune the DETECTION file list with the reader's own skipping
    // machinery BEFORE any data file is opened: exact partition-tuple
    // evaluation (a false-or-NULL tuple cannot contain a matching row —
    // SQL delete semantics), then conservative add.stats min/max
    // ranges. Both fail open, and the detection scan re-applies the
    // full predicate, so skipping is correctness-neutral — but a
    // partition-scoped delete on a 100 TB table now opens only its own
    // partition's footers instead of every live file's.
    val schema = head.schema
    val candidates = pruneLiveFiles(spark, head, schema, head.liveFiles, conjs)
    if (candidates.isEmpty) return 0L
    // merge-on-read: a DV-enabled table commits deletion vectors for
    // small deletes instead of rewriting file bytes
    if (dvPath)
      return deleteWhereDv(spark, f, table, head, schema, predicate, candidates, maxRetries)
    val scan = scanLive(spark, f, table, head, candidates)
    val agg = scan.where(expr(predicate))
      .agg(count(lit(1)).as("n"), collect_set(col(FileCol)).as("files")).collect()(0)
    val deletedRows = agg.getLong(0)
    if (deletedRows == 0L) return 0L
    val touchedKeys = agg.getSeq[String](1).toSet
    val touched = head.liveFiles.filter(lf => touchedKeys.contains(liveKey(f, table, lf)))
    // ONE scan over the touched files feeds both the survivor rewrite
    // and the cdc diff — persisted only when both consumers exist, so
    // the touched bytes are read once, not twice
    val touchedScan = scanLive(spark, f, table, head, touched)
    val shared = if (head.cdfEnabled) touchedScan.persist() else touchedScan
    try {
      val survivors = shared
        .where(s"NOT ($predicate) OR ($predicate) IS NULL").drop(FileCol)
      // CDF-enabled tables get the precise row diff as cdc files: exactly
      // the deleted rows, so the feed never shows the rewrite's survivors
      val cdc =
        if (!head.cdfEnabled) None
        else Some(shared.where(expr(predicate))
          .drop(FileCol).withColumn("_change_type", lit("delete")))
      rewriteCommit(spark, f, table, head, touched, survivorsOf(touched, deletedRows, survivors),
        "DELETE", None, maxRetries, cdc)
    } finally if (head.cdfEnabled) shared.unpersist()
    deletedRows
  }

  /** Driver-side safety cap for the merge-on-read path: matched (file,
    * row-index) pairs funnel through the driver to become vectors, so
    * past this many the delete falls back to the distributed rewrite. */
  private val DvMaxCollectRows = 2000000

  /** Fraction of a file's LIVE rows (physical numRecords minus its
    * existing vector's cardinality) above which rewriting survivors
    * beats carrying a vector — delta-spark's same trade. */
  private val DvMaxFraction = 0.5

  /** Merge-on-read DELETE: commit an inline deletion vector per touched
    * file — remove+add of the SAME path, bytes untouched — so a point
    * delete in a 1 GB file is O(matched rows), not a file rewrite.
    * Existing vectors decode driver-side (each bounded by this writer's
    * own threshold), exclude already-deleted rows from detection, and
    * union into the rewritten vectors. Falls back to the masked
    * copy-on-write rewrite when any file's fresh deletions exceed
    * [[DvMaxFraction]] of its live rows (or the driver cap). CDF tables
    * stage cdc files for exactly the freshly deleted rows, so the feed
    * stays precise (a DV change without cdc is unservable by the
    * feed's own rule). */
  /** Existing deletion-vector row sets of `files`, decoded DRIVER-side
    * (each bounded by this writer's own write threshold), keyed by the
    * scan key — detection exclusions, vector unions and masked rewrite
    * scans all start here. */
  private def existingDvs(spark: SparkSession, f: FileSystem, table: String,
      files: Seq[AddFile]): Map[String, Array[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap(lf => lf.dv.map(d => liveKey(f, table, lf) -> DeltaReader.dvRows(table, d, conf))).toMap
  }

  /** [[scanLive]] with the rows existing deletion vectors delete
    * REMOVED (broadcast anti-join on (file, row-index)) — the frame
    * every rewrite consumer must see on a merge-on-read table. A clean
    * file set pays nothing. */
  private def scanLiveVisible(spark: SparkSession, f: FileSystem, table: String,
      head: Snapshot, files: Seq[AddFile], keepRowIdx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ex = existingDvs(spark, f, table, files.filter(_.hasDv))
    if (ex.isEmpty) scanLive(spark, f, table, head, files, withRowIndex = keepRowIdx)
    else {
      val pairSchema = StructType(Seq(
        StructField(FileCol, StringType), StructField(RowIdxCol, LongType)))
      val rows = ex.toSeq.flatMap { case (k, ps) =>
        ps.map(p => org.apache.spark.sql.Row(k, p)) }
      val edf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), pairSchema))
      val joined = scanLive(spark, f, table, head, files, withRowIndex = true)
        .join(edf, Seq(FileCol, RowIdxCol), "left_anti")
      if (keepRowIdx) joined else joined.drop(RowIdxCol)
    }
  }

  private def deleteWhereDv(spark: SparkSession, f: FileSystem, table: String,
      head: Snapshot, schema: StructType, predicate: String,
      candidates: Seq[AddFile], maxRetries: Int): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, lit}
    val byKey = candidates.map(lf => liveKey(f, table, lf) -> lf).toMap
    val existing = existingDvs(spark, f, table, candidates.filter(_.hasDv))
    val scan = scanLive(spark, f, table, head, candidates, withRowIndex = true)
    val matchedRows = scan.where(expr(predicate))
      .select(col(FileCol), col(RowIdxCol))
      .limit(DvMaxCollectRows + 1).collect()
    if (matchedRows.length > DvMaxCollectRows)
      return deleteWhereMaskedRewrite(spark, f, table, head, predicate,
        candidates, maxRetries)
    val perFile: Map[String, Array[Long]] = matchedRows.groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getLong(1)).sorted }
    val newPerFile: Map[String, Array[Long]] = perFile.flatMap { case (k, ps) =>
      val ex = existing.get(k).map(_.toSet).getOrElse(Set.empty[Long])
      val fresh = ps.filterNot(ex.contains)
      if (fresh.isEmpty) None else Some(k -> fresh)
    }
    val deletedRows = newPerFile.values.map(_.length.toLong).sum
    if (deletedRows == 0L) return 0L
    val overThreshold = newPerFile.exists { case (k, fresh) =>
      byKey.get(k).flatMap(_.numRecords) match {
        case Some(n) =>
          val live = n - existing.get(k).map(_.length.toLong).getOrElse(0L)
          live > 0 && fresh.length.toDouble / live.toDouble > DvMaxFraction
        case None => fresh.length > 100000 // stats-less file: absolute bound
      }
    }
    if (overThreshold)
      return deleteWhereMaskedRewrite(spark, f, table, head, predicate,
        candidates, maxRetries)
    val dvRewrites: Seq[(AddFile, String)] = newPerFile.toSeq.map { case (k, fresh) =>
      byKey(k) -> dvDescriptorJson((existing.getOrElse(k, Array.empty[Long]) ++ fresh).sorted)
    }
    val cdc =
      if (!head.cdfEnabled) None
      else {
        // exactly the freshly deleted rows: semi-join the scan against
        // the broadcast (file, row-index) pairs just assembled
        val pairSchema = StructType(Seq(
          StructField(FileCol, StringType), StructField(RowIdxCol, LongType)))
        val rows = newPerFile.toSeq.flatMap { case (k, ps) =>
          ps.map(p => org.apache.spark.sql.Row(k, p)) }
        val fdf = broadcast(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), pairSchema))
        Some(scan.join(fdf, Seq(FileCol, RowIdxCol), "left_semi")
          .drop(FileCol, RowIdxCol).withColumn("_change_type", lit("delete")))
      }
    rewriteCommit(spark, f, table, head, Nil, None,
      "DELETE", None, maxRetries, cdc, dvRewrites)
    deletedRows
  }

  /** A copy-on-write delete's rewrite output: None when the delete
    * emptied every file it touched (their live rows, add.stats minus
    * vector cardinality, all matched), so the commit carries the removes
    * alone instead of a zero-row add staged from the empty survivors. */
  private def survivorsOf(touched: Seq[AddFile], deletedRows: Long,
      survivors: DataFrame): Option[DataFrame] = {
    val liveRows = touched.map(lf => lf.numRecords.map(_ - lf.dv.map(_.cardinality).getOrElse(0L)))
    if (liveRows.forall(_.isDefined) && liveRows.flatten.sum == deletedRows) None
    else Some(survivors)
  }

  /** Copy-on-write DELETE with existing vectors masked out: the
    * fallback when fresh deletions are too large a fraction for a
    * vector. Touched files rewrite WITHOUT vectors (their masked rows
    * drop with the matched ones); untouched files keep theirs. */
  private def deleteWhereMaskedRewrite(spark: SparkSession, f: FileSystem, table: String,
      head: Snapshot, predicate: String, candidates: Seq[AddFile],
      maxRetries: Int): Long = {
    import org.apache.spark.sql.functions.{col, collect_set, count, expr, lit}
    def masked(files: Seq[AddFile]): DataFrame =
      scanLiveVisible(spark, f, table, head, files)
    val agg = masked(candidates).where(expr(predicate))
      .agg(count(lit(1)).as("n"), collect_set(col(FileCol)).as("files")).collect()(0)
    val deletedRows = agg.getLong(0)
    if (deletedRows == 0L) return 0L
    val touchedKeys = agg.getSeq[String](1).toSet
    val touched = head.liveFiles.filter(lf => touchedKeys.contains(liveKey(f, table, lf)))
    val touchedScan = masked(touched)
    val shared = if (head.cdfEnabled) touchedScan.persist() else touchedScan
    try {
      val survivors = shared
        .where(s"NOT ($predicate) OR ($predicate) IS NULL").drop(FileCol)
      val cdc =
        if (!head.cdfEnabled) None
        else Some(shared.where(expr(predicate))
          .drop(FileCol).withColumn("_change_type", lit("delete")))
      rewriteCommit(spark, f, table, head, touched, survivorsOf(touched, deletedRows, survivors),
        "DELETE", None, maxRetries, cdc)
    } finally if (head.cdfEnabled) shared.unpersist()
    deletedRows
  }

  /** RESTORE the table to `version` (delta-spark's
    * `RESTORE TABLE ... TO VERSION AS OF`): ONE commit whose removes
    * drop the files the target version does not reference and whose
    * adds resurrect the files it does (original partitionValues and
    * stats re-emitted verbatim), with the target's metaData re-declared
    * when schema/partitioning/configuration differ. History is
    * APPENDED, never truncated — time travel to the pre-restore
    * versions keeps working until [[vacuum]] reclaims their files.
    *
    * Metadata-only on the data path: no data file is read or written,
    * so the operation is O(live files) driver work however large the
    * table. Refusals: a file to resurrect whose bytes were vacuumed
    * (restoring would publish dangling adds — delta-spark surfaces the
    * same break), any involved file carrying a deletion vector
    * (re-emitting vectored adds across a history fork is outside this
    * writer's profile), a version the cleaned log can no longer
    * reconstruct.
    *
    * Streams: a restore that drops files is a data-removing version
    * and a metaData re-declaration is a metadata change — the
    * `graft-delta` source refuses both by its existing rules (restart
    * to re-baseline), exactly the honest behavior for a history fork.
    * The change feed derives the diff from the remove/add pairs
    * (dataChange=true). Returns (files removed, files resurrected). */
  def restore(spark: SparkSession, table: String, version: Long,
      maxRetries: Int = 10): (Int, Int) = {
    val f = DeltaLog.fs(spark, table)
    val target = head(spark, table, Some(version))
    var counts = (0, 0)
    commitOnHead(spark, table, "restore", maxRetries) { head =>
      require(version <= head.version,
        s"delta restore: version $version is beyond the head of $table (${head.version})")
      requireNotAppendOnly(head, table, "restore")
      val tgtByPath = target.liveFiles.map(lf => lf.path -> lf).toMap
      val nowByPath = head.liveFiles.map(lf => lf.path -> lf).toMap
      val removes = head.liveFiles.filterNot(lf => tgtByPath.contains(lf.path))
      val adds = target.liveFiles.filterNot(lf => nowByPath.contains(lf.path))
      val dvInvolved = (removes ++ adds).count(_.hasDv)
      require(dvInvolved == 0,
        s"delta restore: $dvInvolved file(s) crossing the restore carry deletion " +
          "vectors — re-emitting vectored adds across a restore is outside this " +
          "writer's profile; run it with the delta-spark connector")
      val missing = adds.map(a => resolveLogPath(table, a.path))
        .filterNot(p => f.exists(new Path(p)))
      require(missing.isEmpty,
        s"delta restore: file(s) ${missing.take(3).mkString(", ")} referenced by " +
          s"version $version were vacuumed — that version is no longer restorable")
      val metaChanged = head.schemaJson != target.schemaJson ||
        head.partitionCols != target.partitionCols || head.metaJson != target.metaJson
      counts = (removes.size, adds.size)
      if (removes.isEmpty && adds.isEmpty && !metaChanged) None // already there
      else Some(Seq(commitInfo("RESTORE", s"""{"version":"$version"}""")) ++
        (if (metaChanged) Seq(s"""{"metaData":${target.metaJson}}""") else Nil) ++
        removes.map(e => removeLine(e.path, e.partitionValues, dataChange = true)) ++
        adds.map { a =>
          // log paths re-emit VERBATIM (already log-encoded); size/mtime
          // re-read from the still-present bytes just verified above
          val st = f.getFileStatus(new Path(resolveLogPath(table, a.path)))
          addLine(a.path, a.partitionValues, st.getLen, st.getModificationTime,
            dataChange = true, a.stats)
        })
    }
    counts
  }

  /** RENAME COLUMN — METADATA-ONLY on a column-mapped table (the whole
    * point of column mapping: data files key columns by stable
    * physicalName/id, so a logical rename is one metaData action and
    * zero data IO — delta-spark's `ALTER TABLE RENAME COLUMN`, which
    * likewise requires the mapping). Partition columns rename too
    * (metaData.partitionColumns carries LOGICAL names; the adds'
    * partitionValues key physically and stay valid verbatim). An
    * unmapped table refuses: its files key by the logical name, so a
    * rename would need a full rewrite.
    *
    * Concurrency: the optimistic loop re-resolves the head per attempt
    * and publishes via create-no-overwrite; streams refuse the
    * metadata change by their existing rule (restart to adopt). */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String,
      maxRetries: Int = 10): Unit = {
    require(to.nonEmpty && !to.exists(c => "[ ,;{}()\n\t=]".contains(c)),
      s"delta rename: invalid column name '$to'")
    commitOnHead(spark, table, "rename", maxRetries) { head =>
      require(head.mappingMode != "none",
        s"delta rename: $table is not column-mapped — its data files key columns by " +
          "the logical name, so a rename needs a full rewrite; enable column mapping " +
          "(delta-spark: delta.columnMapping.mode=name) or rewrite with the connector")
      val schema = head.schema
      val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(from))
      require(idx >= 0, s"delta rename: column '$from' does not exist at $table " +
        s"(have ${schema.fieldNames.mkString(", ")})")
      require(!schema.fields.zipWithIndex.exists { case (fl, i) =>
          i != idx && fl.name.equalsIgnoreCase(to) },
        s"delta rename: column '$to' already exists at $table")
      val renamed = StructType(schema.fields.zipWithIndex.map { case (fl, i) =>
        if (i == idx) fl.copy(name = to) else fl
      })
      Some(Seq(commitInfo("RENAME COLUMN", s"""{"from":${js(from)},"to":${js(to)}}"""),
        metaLine(head) { md =>
          md.put("schemaString", renamed.json)
          if (head.partitionCols.exists(_.equalsIgnoreCase(from))) {
            val pcArr = md.putArray("partitionColumns")
            head.partitionCols.foreach(pc => pcArr.add(if (pc.equalsIgnoreCase(from)) to else pc))
          }
        }))
    }
  }

  /** DROP COLUMN — METADATA-ONLY on a column-mapped table: the logical
    * schema hides the column while the data files keep their bytes
    * (delta-spark's `ALTER TABLE DROP COLUMN`, same mapping
    * requirement). A later mergeSchema re-adding the same LOGICAL name
    * assigns a FRESH physicalName/id, so the dropped column's old
    * values can never resurrect. Partition columns refuse (the layout
    * depends on them); dropping the last column refuses. */
  def dropColumn(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 10): Unit = {
    commitOnHead(spark, table, "drop", maxRetries) { head =>
      require(head.mappingMode != "none",
        s"delta drop: $table is not column-mapped — its data files carry the column " +
          "under its logical name, so a drop needs a full rewrite; enable column " +
          "mapping (delta-spark: delta.columnMapping.mode=name) or rewrite with the " +
          "connector")
      val schema = head.schema
      require(schema.fields.exists(_.name.equalsIgnoreCase(name)),
        s"delta drop: column '$name' does not exist at $table " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(!head.partitionCols.exists(_.equalsIgnoreCase(name)),
        s"delta drop: '$name' is a partition column of $table — the layout depends " +
          "on it; repartition with overwriteSchema instead")
      val remaining = schema.fields.filterNot(_.name.equalsIgnoreCase(name))
      require(remaining.nonEmpty, s"delta drop: cannot drop the last column of $table")
      Some(Seq(commitInfo("DROP COLUMNS", s"""{"columns":${js(name)}}"""),
        metaLine(head)(_.put("schemaString", StructType(remaining).json))))
    }
  }

  /** MERGE (upsert) by key — the delta-spark
    * `whenMatched(updateAll|delete) / whenNotMatched(insertAll)`
    * simple surface; delegates to [[mergeClauses]] (the full builder
    * surface: conditional clauses, partial-column set expressions,
    * `whenNotMatchedBySource`). Source rows with a NULL key never
    * match (SQL equality), so they always insert. */
  def merge(spark: SparkSession, source: DataFrame, table: String, on: Seq[String],
      whenMatched: String = "update", insertNotMatched: Boolean = true,
      txn: Option[(String, Long)] = None, maxRetries: Int = 10): Unit = {
    require(Set("update", "delete").contains(whenMatched),
      s"delta merge: unknown whenMatched '$whenMatched' (update | delete)")
    mergeClauses(spark, source, table, on,
      Seq(MergeClause("matched", whenMatched)) ++
        (if (insertNotMatched) Seq(MergeClause("notMatched", "insert")) else Nil),
      txn, maxRetries)
  }

  /** MERGE with the full delta-spark builder surface as data clauses
    * ([[MergeClause]]): conditional `whenMatched` update/delete with
    * partial-column set expressions (`t.`/`s.` qualification),
    * conditional `whenNotMatched` insert (full or partial), and
    * `whenNotMatchedBySource` update/delete — copy-on-write per
    * touched file, ONE commit.
    *
    * Semantics (SQL MERGE): per row and per kind, the FIRST clause
    * whose condition holds applies; rows no clause applies to survive
    * unchanged (or don't insert). A source with duplicate non-null
    * keys refuses up front (one target row matching two source rows is
    * nondeterministic — delta-spark's error, caught before staging).
    *
    * Shape at scale: matched-file detection is one semi-join of the
    * (key-bound pre-pruned) live-file scan against the DISTINCT source
    * keys, carrying only (key, file) through the join; bySource
    * detection is one anti-join + condition filter over the live scan
    * (pre-pruned by the condition's conjuncts when analyzable) — files
    * neither names never rewrite. All output rows assemble from ONE
    * persisted touched-file scan ([[MergeClauses.assemble]]) and stage
    * through one distributed partitioned write publishing one commit
    * (remove/add pairs, dataChange=true), so streams and the change
    * feed see a single atomic version.
    *
    * Concurrency: same per-attempt guards as [[deleteWhere]] — any
    * concurrent add refuses (its rows were never probed for matches).
    * `txn` marks the commit for exactly-once streaming upserts. */
  def mergeClauses(spark: SparkSession, source: DataFrame, table: String,
      on: Seq[String], clauses: Seq[MergeClause],
      txn: Option[(String, Long)] = None, maxRetries: Int = 10): Unit = {
    import org.apache.spark.sql.functions.{col, collect_set, expr, lit}
    require(on.nonEmpty, "delta merge: at least one key column required")
    val f = DeltaLog.fs(spark, table)
    val head = this.head(spark, table)
    // an insert-only merge appends; any matched/bySource clause
    // rewrites committed rows and the append-only declaration refuses
    if (clauses.exists(_.kind != "notMatched"))
      requireNotAppendOnly(head, table, "merge")
    // merge-on-read tables: this writer's own vectors MASK through
    // every rewrite scan below (scanLiveVisible), so merging after a
    // DV delete works — touched files rewrite without vectors, their
    // masked rows dropping; untouched files keep theirs. Foreign DV
    // tables / column mapping still refuse.
    val dvTable = head.dvEnabled && head.mappingMode == "none"
    if (!dvTable) requireRewritable(head, table, "merge", allowMapped = true)
    val schema = head.schema
    MergeClauses.validate(clauses, schema, "delta")
    val onT: Seq[String] = on.map(k =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(throw new IllegalArgumentException(
        s"delta merge: key column '$k' not in the table schema (${schema.fieldNames.mkString(",")})")))
    onT.foreach(k => require(source.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"delta merge: key column '$k' not in the source frame (${source.schema.fieldNames.mkString(",")})"))
    // updateAll/insertAll take EVERY column from the source, so those
    // shapes need the full table schema (the append contract); set-
    // expression clauses need only the key columns, matching types
    if (MergeClauses.needsFullSchema(clauses)) {
      val same = schema.fields.length == source.schema.fields.length &&
        schema.fields.zip(source.schema.fields).forall { case (a, b) =>
          a.name.equalsIgnoreCase(b.name) && a.dataType == b.dataType
        }
      require(same,
        s"delta merge: source schema must match the table — table has " +
          s"${schema.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}, " +
          s"source has ${source.schema.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}")
    } else onT.foreach { k =>
      val tt = schema(k).dataType
      val st = source.schema(source.schema.fieldNames.find(_.equalsIgnoreCase(k)).get).dataType
      require(tt == st, s"delta merge: key column '$k' is ${tt.simpleString} in the table " +
        s"but ${st.simpleString} in the source")
    }
    // The source frame is consumed several times below (dup-key gate,
    // distinct keys, the matched join, the insert anti-join); for a
    // source that is itself an expensive query, re-running its plan
    // per consumer would multiply its cost — one persist bounds it to
    // a single evaluation, released after the commit. Spark's cache is
    // NOT refcounted, so a source the caller already cached is used
    // as-is and never unpersisted here (unpersisting would silently
    // drop the caller's cache).
    val srcPersistedHere =
      source.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val src = if (srcPersistedHere) source.persist() else source
    val tScans = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val keyNonNull = onT.map(src(_).isNotNull).reduce(_ && _)
      val dupKeys = src.where(keyNonNull).groupBy(onT.map(src(_)): _*)
        .count().where(col("count") > 1).limit(1).count()
      require(dupKeys == 0L,
        s"delta merge: the source has duplicate values for key [${onT.mkString(",")}] — " +
          "a target row matching several source rows is nondeterministic (delta-spark " +
          "raises the same error); de-duplicate the source first")
      val srcKeys = src.where(keyNonNull).select(onT.map(src(_)): _*).distinct()
      val cdfOn = head.cdfEnabled
      val matchedOn = clauses.exists(_.kind == "matched")
      val bySourceCs = clauses.filter(_.kind == "notMatchedBySource")
      val insertOn = clauses.exists(_.kind == "notMatched")
      val (touched, out, cdc, dvRw) =
        if (head.liveFiles.isEmpty) {
          val (o, c, _) = MergeClauses.assemble(None, src, srcKeys, None,
            onT, schema, clauses, cdfOn)
          (Nil, o, c, Nil)
        } else {
          // matched-file detection, pre-pruned by the source keys'
          // [min,max]: a file whose stats / partition tuple exclude
          // every source key cannot hold a matched row, so a
          // key-bounded merge into a 100 TB table opens only the
          // files its keys could live in
          val detectedFiles =
            if (!matchedOn) Nil
            else {
              val cand = pruneLiveFiles(spark, head, schema, head.liveFiles,
                FileSkipping.keyBoundConjuncts(srcKeys, onT, schema))
              if (cand.isEmpty) Nil
              else {
                val ks = scanLiveVisible(spark, f, table, head, cand)
                  .join(srcKeys, onT, "left_semi")
                  .agg(collect_set(col(FileCol))).collect()(0).getSeq[String](0).toSet
                head.liveFiles.filter(lf => ks.contains(liveKey(f, table, lf)))
              }
            }
          // bySource detection: files holding at least one UNmatched
          // row some bySource clause condition admits must rewrite;
          // a single conditioned clause pre-prunes by its conjuncts
          // (fail open — the scan re-applies the condition)
          val bsFiles =
            if (bySourceCs.isEmpty) Nil
            else {
              val cand = bySourceCs match {
                case Seq(one) if one.condition.isDefined =>
                  scala.util.Try(FileSkipping.conjuncts(one.condition.get)).toOption
                    .filter(cs => cs.nonEmpty &&
                      cs.map(FileSkipping.usableRefs).forall(_.isDefined))
                    .map(cs => pruneLiveFiles(spark, head, schema, head.liveFiles, cs))
                    .getOrElse(head.liveFiles)
                case _ => head.liveFiles
              }
              if (cand.isEmpty) Nil
              else {
                val any = bySourceCs.map(c => c.condition.map(expr).getOrElse(lit(true)))
                  .reduce(_ || _)
                val ks = scanLiveVisible(spark, f, table, head, cand).as("t")
                  .join(srcKeys, onT, "left_anti").where(any)
                  .agg(collect_set(col(FileCol))).collect()(0).getSeq[String](0).toSet
                head.liveFiles.filter(lf => ks.contains(liveKey(f, table, lf)))
              }
            }
          val touchedFiles = (detectedFiles ++ bsFiles).distinctBy(_.path)
          // the touched files feed matched + survivors + bySource +
          // matched-keys — ONE persisted scan reads their bytes once
          val tRows =
            if (touchedFiles.isEmpty) None
            else {
              // merge-on-read keeps the (file, row-index) metadata so
              // applied rows can become vector positions
              val base = scanLiveVisible(spark, f, table, head, touchedFiles,
                keepRowIdx = dvTable)
              val s0 = (if (dvTable) base else base.drop(FileCol)).persist()
              tScans += s0
              Some(s0)
            }
          // insert exclusion: target keys matching a source key can
          // only live in matched-detected files. With matched clauses
          // those files are touched (tRows covers them); an
          // insert-only merge resolves the key set in ONE pruned
          // key-column scan instead of collecting a file list first.
          val matchedKeys =
            if (!insertOn) None
            else if (matchedOn) {
              if (detectedFiles.isEmpty) None
              else tRows.map(_.select(onT.map(col): _*).distinct())
            } else {
              val cand = pruneLiveFiles(spark, head, schema, head.liveFiles,
                FileSkipping.keyBoundConjuncts(srcKeys, onT, schema))
              if (cand.isEmpty) None
              else Some(scanLiveVisible(spark, f, table, head, cand)
                .join(srcKeys, onT, "left_semi")
                .select(onT.map(col): _*).distinct())
            }
          if (!dvTable) {
            val (o, c, _) = MergeClauses.assemble(tRows, src, srcKeys, matchedKeys,
              onT, schema, clauses, cdfOn)
            (touchedFiles, o, c, Nil)
          } else {
            // MERGE-ON-READ attempt: applied target rows become vector
            // positions (remove+add of the SAME files), only update
            // post-images + inserts land in new files — an upsert
            // touching k rows of a 1 GB file costs O(k), not a rewrite
            val (oMor, cMor, affOpt) = MergeClauses.assemble(tRows, src, srcKeys,
              matchedKeys, onT, schema, clauses, cdfOn,
              morMeta = Some((FileCol, RowIdxCol)))
            val affRows = affOpt.map(_.limit(DvMaxCollectRows + 1).collect())
              .getOrElse(Array.empty[org.apache.spark.sql.Row])
            val tByKey = touchedFiles.map(lf => liveKey(f, table, lf) -> lf).toMap
            val perFile: Map[String, Array[Long]] = affRows.groupBy(_.getString(0))
              .map { case (k, rs) => k -> rs.map(_.getLong(1)).distinct.sorted }
            val existing = existingDvs(spark, f, table, touchedFiles.filter(_.hasDv))
            val over = affRows.length > DvMaxCollectRows || perFile.exists { case (k, ps) =>
              tByKey.get(k).flatMap(_.numRecords) match {
                case Some(n) =>
                  val live = n - existing.get(k).map(_.length.toLong).getOrElse(0L)
                  live > 0 && ps.length.toDouble / live.toDouble > DvMaxFraction
                case None => ps.length > 100000
              }
            }
            if (over) {
              // too large a fraction: the full masked rewrite wins
              val (o, c, _) = MergeClauses.assemble(tRows, src, srcKeys, matchedKeys,
                onT, schema, clauses, cdfOn)
              (touchedFiles, o, c, Nil)
            } else {
              val rw = perFile.toSeq.map { case (k, fresh) =>
                tByKey(k) -> dvDescriptorJson(
                  (existing.getOrElse(k, Array.empty[Long]) ++ fresh).sorted)
              }
              (Nil, oMor, cMor, rw)
            }
          }
        }
      if (touched.isEmpty && out.isEmpty && dvRw.isEmpty && txn.isEmpty)
        return // provably a no-op
      rewriteCommit(spark, f, table, head, touched,
        out, "MERGE", txn, maxRetries, cdc, dvRw)
    } finally {
      if (srcPersistedHere) src.unpersist()
      tScans.foreach(_.unpersist())
    }
  }

  // ---- internals -----------------------------------------------------

  /** Canonical scan-key column attached by [[scanLive]] — joins against
    * [[liveKey]] on the driver side. */
  private val FileCol = "__graft_file"

  private def resolveLogPath(table: String, p: String): String = {
    val decoded = PathKeys.percentDecode(p)
    if (decoded.contains("://") || decoded.startsWith("/")) decoded
    else table.stripSuffix("/") + "/" + decoded
  }

  private def liveKey(f: FileSystem, table: String, lf: AddFile): String =
    PathKeys.driverKey(resolveLogPath(table, lf.path), f)

  /** Pre-prune the DETECTION candidates of a row-level rewrite with
    * the reader's own skipping machinery BEFORE any data file is
    * opened: exact partition-tuple evaluation (a false-or-NULL tuple
    * cannot contain a matching row — SQL delete semantics), then
    * conservative add.stats min/max ranges. Both stages fail open, and
    * the detection scan re-applies the full predicate, so skipping is
    * correctness-neutral — but a partition-scoped delete (or a
    * key-bounded merge) on a 100 TB table opens only its own
    * partition's footers instead of every live file's. A declared
    * partition column absent from the schema (a malformed log this
    * writer didn't produce) skips partition pruning rather than
    * throwing — pruning is an optimization. */
  private def pruneLiveFiles(spark: SparkSession, head: Snapshot, schema: StructType,
      files: Seq[AddFile],
      conjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[AddFile] = {
    if (conjs.isEmpty || files.isEmpty) return files
    var candidates = files
    // under column mapping add.partitionValues and add.stats key by
    // PHYSICAL names — look tuples up physically, hand statsPrune the
    // logical->physical key map
    val physOf = head.physicalNames
    val partFields = head.partitionCols.flatMap(pc =>
      schema.fieldNames.find(_.equalsIgnoreCase(pc)).map(schema(_)))
    if (head.partitionCols.nonEmpty && partFields.size == head.partitionCols.size) {
      FileSkipping.partitionPrune(spark, partFields,
        candidates.map(lf => lf.path ->
          partFields.map(fl => lf.partitionValues.get(physOf(fl.name))
            .orElse(lf.partitionValues.get(fl.name)).flatten.orNull)), conjs)
        .foreach(kept => candidates = candidates.filter(lf => kept.contains(lf.path)))
    }
    if (candidates.nonEmpty)
      FileSkipping.statsPrune(spark, schema,
        candidates.map(lf => lf.path -> lf.stats.orNull), conjs,
        statsKey = physOf.filter { case (k, v) => k != v })
        .foreach(kept => candidates = candidates.filter(lf => kept.contains(lf.path)))
    candidates
  }

  /** ZeroMQ Z85 encode (4 bytes → 5 chars), the exact inverse of the
    * reader's `z85Decode` — same alphabet constant, so encoder and
    * decoder cannot drift. */
  private[readers] def z85Encode(data: Array[Byte]): String = {
    require(data.length % 4 == 0, s"z85: length ${data.length} not a multiple of 4")
    val sb = new StringBuilder(data.length / 4 * 5)
    var i = 0
    while (i < data.length) {
      var v = ((data(i) & 0xffL) << 24) | ((data(i + 1) & 0xffL) << 16) |
        ((data(i + 2) & 0xffL) << 8) | (data(i + 3) & 0xffL)
      val chars = new Array[Char](5)
      var k = 4
      while (k >= 0) { chars(k) = DeltaReader.Z85Alphabet.charAt((v % 85).toInt); v /= 85; k -= 1 }
      sb.appendAll(chars)
      i += 4
    }
    sb.toString
  }

  /** Serialize deleted row indexes as a delta DV blob (PROTOCOL.md
    * "Deletion Vector Format"): LE magic 1681511377 + LE64 bitmap
    * count + per high-32-bit key (LE32 key + a portable 32-bit roaring
    * bitmap, no-run cookie 12346 with real container offsets) — the
    * exact layout the reader's `decodeDvData`/`parseRoaringSized`
    * walks, padded with trailing zeros to the 4-byte multiple Z85
    * needs (the decoder stops after the declared bitmaps). */
  private[readers] def encodeDvData(rows: Array[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def le64(v: Long): Unit = { le32((v & 0xffffffffL).toInt); le32((v >>> 32).toInt) }
    val byKey = rows.sorted.distinct.groupBy(r => (r >>> 32).toInt).toSeq.sortBy(_._1)
    le32(1681511377)
    le64(byKey.size.toLong)
    byKey.foreach { case (key, vs) =>
      le32(key)
      val vals32 = vs.map(v => (v & 0xffffffffL).toInt) // sorted already
      val containers = vals32.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      le32(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      le32(containers.size)
      containers.foreach { case (hi, cv) => le16(hi); le16(cv.length - 1) }
      // container byte offsets from the start of this bitmap's blob
      var off = 8 + 4 * containers.size + 4 * containers.size
      containers.foreach { case (_, cv) =>
        le32(off)
        off += (if (cv.length <= 4096) 2 * cv.length else 8192)
      }
      containers.foreach { case (_, cv) =>
        if (cv.length <= 4096) cv.foreach(v => le16(v & 0xffff))
        else {
          val words = new Array[Long](1024)
          cv.foreach { v => val low = v & 0xffff; words(low >> 6) |= (1L << (low & 63)) }
          words.foreach(le64)
        }
      }
    }
    while (bos.size() % 4 != 0) bos.write(0)
    bos.toByteArray
  }

  /** Inline DV descriptor JSON for `rows` deleted row indexes. */
  private def dvDescriptorJson(rows: Array[Long]): String = {
    val data = encodeDvData(rows)
    s"""{"storageType":"i","pathOrInlineDv":${js(z85Encode(data))},""" +
      s""""offset":0,"sizeInBytes":${data.length},"cardinality":${rows.length}}"""
  }

  /** Row-index metadata column attached by [[scanLive]] on request —
    * the DV write path keys deletions on (file, row_index). */
  private val RowIdxCol = "__graft_row_idx"

  /** Cap on the one-scan-per-partition-tuple plan shape: past it, ONE
    * scan with a broadcast (file → partition values) join keeps the
    * plan O(1) instead of O(distinct tuples) union-reduced FileScan
    * nodes — the reader's round-7 `maxPartitionScans` stance
    * (`DeltaReader.readImpl`), inherited here so merge/deleteWhere
    * detection and rewrite scans survive high-cardinality
    * (date-per-day, id-bucketed) partitioning. */
  private val maxPartitionScans = 64

  /** Pruned scan over `files`, the full LOGICAL schema re-attached
    * (partition values as typed literals — data files do not store
    * partition columns) plus [[FileCol]]. Up to [[maxPartitionScans]]
    * distinct tuples: one scan per tuple with the values constant-
    * folded; above it: ONE scan + broadcast (file → values) join, so
    * plan size never tracks partition cardinality. Column pruning
    * still applies: consumers selecting only keys carry only keys
    * through the scan. */
  private[readers] def scanLive(spark: SparkSession, f: FileSystem, table: String,
      head: Snapshot, files: Seq[AddFile], withRowIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val schema = head.schema
    // column-mapped tables: data files carry PHYSICAL column names —
    // the scan reads them and immediately renames back to logical, so
    // every consumer above stays logical (the mapped-append inverse)
    val physOf = head.physicalNames
    def pvOf(pv: Map[String, Option[String]], pc: String): Option[String] = {
      val fl = schema.fieldNames.find(_.equalsIgnoreCase(pc))
      fl.flatMap(n => pv.get(physOf(n))).orElse(pv.get(pc)).flatten
    }
    val dataFields = schema.fields.filterNot(fl =>
      head.partitionCols.exists(_.equalsIgnoreCase(fl.name)))
    val dataSchema = StructType(dataFields.map(fl =>
      StructField(physOf(fl.name), fl.dataType, fl.nullable)))
    val outCols = schema.fieldNames.toSeq ++ Seq(FileCol) ++
      (if (withRowIndex) Seq(RowIdxCol) else Nil)
    def withMeta(df: DataFrame): DataFrame = {
      val a = df.withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
      val b = if (withRowIndex) a.withColumn(RowIdxCol, col("_metadata.row_index")) else a
      b.select(dataFields.map(fl => col(s"`${physOf(fl.name)}`").as(fl.name)) ++
        Seq(col(FileCol)) ++ (if (withRowIndex) Seq(col(RowIdxCol)) else Nil): _*)
    }
    val groups = files.groupBy(_.partitionValues).toSeq
    if (groups.size <= maxPartitionScans) {
      val frames = groups.map { case (pv, group) =>
        val base = withMeta(spark.read.schema(dataSchema)
          .parquet(group.map(g => resolveLogPath(table, g.path)): _*))
        head.partitionCols.foldLeft(base) { (df, pc) =>
          val fl = schema(schema.fieldNames.find(_.equalsIgnoreCase(pc)).get)
          df.withColumn(fl.name, pvOf(pv, pc) match {
            case Some(s) => lit(s).cast(fl.dataType)
            case None    => lit(null).cast(fl.dataType)
          })
        }.select(outCols.map(col): _*)
      }
      frames.reduce(_ unionByName _)
    } else {
      val base = withMeta(spark.read.schema(dataSchema)
        .parquet(files.map(g => resolveLogPath(table, g.path)): _*))
      val pvSchema = StructType(StructField("__pv_file", StringType) +:
        head.partitionCols.map(pc => StructField(s"__pv_$pc", StringType)))
      val pvRows = files.map { lf =>
        org.apache.spark.sql.Row.fromSeq(liveKey(f, table, lf) +:
          head.partitionCols.map(pc => pvOf(lf.partitionValues, pc).orNull))
      }
      val pvDf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(pvRows, 1), pvSchema))
      val joined = base.join(pvDf, col(FileCol) === col("__pv_file"), "left")
      head.partitionCols.foldLeft(joined) { (df, pc) =>
        val fl = schema(schema.fieldNames.find(_.equalsIgnoreCase(pc)).get)
        df.withColumn(fl.name, col(s"__pv_$pc").cast(fl.dataType))
      }.select(outCols.map(col): _*)
    }
  }

  /** Shared tail of delete/merge: stage `output` (ordinary distributed
    * partitioned write — rows never pass the driver), rename in, and
    * publish ONE commit removing `touched` and adding the staged files
    * with footer stats (rewritten tables prune immediately). The
    * optimistic loop re-resolves the head per attempt and refuses on
    * metadata drift, vanished touched files, or ANY concurrent add
    * (its rows were never scanned by the rewrite's plan — committing
    * would silently miss them; the caller re-runs against the new
    * state, delta-spark's ConcurrentAppendException stance). */
  private def rewriteCommit(spark: SparkSession, f: FileSystem, table: String,
      head: Snapshot, touched: Seq[AddFile], output: Option[DataFrame],
      operation: String, txn: Option[(String, Long)], maxRetries: Int,
      cdc: Option[DataFrame] = None,
      // merge-on-read: (file, descriptor json) pairs re-added IN PLACE
      // with a deletion vector — remove+add of the SAME path, bytes
      // untouched; concurrency-guarded like touched files plus a
      // descriptor-drift check (a rival DV landing between scan and
      // commit would otherwise be silently overwritten)
      dvRewrites: Seq[(AddFile, String)] = Nil,
      // false for layout-only rewrites (OPTIMIZE/zorder): incremental
      // consumers must not see a reshuffle of existing rows as data
      dataChange: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.col
    val tablePath = new Path(table)
    val schema = head.schema
    val partCols = head.partitionCols
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    // column-mapped tables stage PHYSICAL names with field ids (the
    // append path's layout) and record stats under them; unmapped
    // tables stage as-is
    val physOf = head.physicalNames
    val mapped = head.mappingMode != "none"
    val stageParts =
      if (!mapped) partCols
      else partCols.map(pc => physOf.getOrElse(
        schema.fieldNames.find(_.equalsIgnoreCase(pc)).getOrElse(pc), pc))
    val statsSchema =
      if (!mapped) schema
      else StructType(schema.fields.map(fl => StructField(physOf(fl.name), fl.dataType)))
    // a row-less output (txn markers, pure-DV commits) skips staging
    // outright — an empty staged part file would otherwise become a
    // spurious zero-row add
    output.foreach { o =>
      // canonical table-case names so partition dirs and staged columns
      // never depend on a caller frame's spelling
      val canon0 = o.select(schema.fieldNames.map(n => col(n).as(n)).toSeq: _*)
      // generated columns RECOMPUTE over the final rows (an update that
      // touched a source column silently keeps the declaration true —
      // the protocol requires value == expression, so overwriting is
      // always correct), then CHECK constraints + invariants + NOT NULL
      // gate the rewritten rows IN this staging scan (zero extra
      // passes). Layout-only rewrites (dataChange=false) reshuffle rows
      // that already passed and skip both.
      val canon = if (!dataChange) canon0 else {
        import org.apache.spark.sql.functions.expr
        val regen = generationExprs(head).foldLeft(canon0) { case (d, (n, e)) =>
          val dt = schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType)
          d.withColumn(n, dt.map(expr(e).cast(_)).getOrElse(expr(e)))
        }
        withRowGates(regen, rowGates(head), table, operation)
      }
      val stageDf =
        if (!mapped) canon
        else canon.select(schema.fields.map { fl =>
          val mb = new MetadataBuilder()
          if (fl.metadata.contains("delta.columnMapping.id"))
            mb.putLong("parquet.field.id", fl.metadata.getLong("delta.columnMapping.id"))
          canon(fl.name).as(physOf(fl.name), mb.build())
        }.toSeq: _*)
      val w = stageDf.write.mode("overwrite")
      rethrowGate {
        (if (stageParts.nonEmpty) w.partitionBy(stageParts: _*) else w).parquet(staging.toString)
      }
    }
    try {
      val staged = if (output.isDefined) listParquet(f, staging) else Nil
      val stagingQ = f.makeQualified(staging).toString.stripSuffix("/")
      val adds = staged.map { st =>
        val full = st.getPath.toString
        require(full.startsWith(stagingQ), s"delta $operation: staged file $full outside $stagingQ")
        val rel = full.stripPrefix(stagingQ).stripPrefix("/")
        val dest = new Path(tablePath, rel)
        Option(dest.getParent).foreach(f.mkdirs(_))
        require(f.rename(st.getPath, dest),
          s"delta $operation: rename ${st.getPath} -> $dest failed")
        val destSt = f.getFileStatus(dest)
        AddSpec(rel, partitionValues(rel), destSt.getLen, destSt.getModificationTime,
          statsJson(f, dest, statsSchema, stageParts))
      }
      // cdc files (delta.enableChangeDataFeed): the caller's precise
      // row-diff (_change_type column) stages into _change_data/, and
      // cdc actions ride THIS commit — the change feed then serves the
      // exact update_preimage/postimage pairs instead of deriving a
      // full-file delete+insert from the rewrite's add/remove noise.
      // dataChange=false per the protocol (cdc rows are bookkeeping).
      val cdcSpecs: Seq[AddSpec] = cdc.toSeq.flatMap { cdf =>
        // generated columns recompute here too, or the change feed's
        // update_postimage rows would disagree with the data files the
        // same commit staged (preimage/delete rows already satisfy
        // value==expression, so recomputing them is a no-op)
        val cdfRegen = generationExprs(head).foldLeft(cdf) { case (d, (n, e)) =>
          import org.apache.spark.sql.functions.expr
          val dt = schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.dataType)
          d.withColumn(n, dt.map(expr(e).cast(_)).getOrElse(expr(e)))
        }
        val cdcCanon = cdfRegen.select((schema.fieldNames.toSeq :+ "_change_type")
          .map(n => col(n).as(n)): _*)
        val cdcStaging = new Path(table.stripSuffix("/") +
          s"/_staging_cdc_${java.util.UUID.randomUUID()}")
        try {
          val cw = cdcCanon.write.mode("overwrite")
          (if (partCols.nonEmpty) cw.partitionBy(partCols: _*) else cw)
            .parquet(cdcStaging.toString)
          val cq = f.makeQualified(cdcStaging).toString.stripSuffix("/")
          listParquet(f, cdcStaging).map { st =>
            val rel = st.getPath.toString.stripPrefix(cq).stripPrefix("/")
            val dest = new Path(tablePath, "_change_data/" + rel)
            Option(dest.getParent).foreach(f.mkdirs(_))
            require(f.rename(st.getPath, dest),
              s"delta $operation: rename ${st.getPath} -> $dest failed")
            AddSpec("_change_data/" + rel, partitionValues(rel),
              f.getFileStatus(dest).getLen, 0L, None)
          }
        } finally scala.util.Try(f.delete(cdcStaging, true))
      }
      val snapshotLive = head.live.toSet
      commitOnHead(spark, table, operation, maxRetries) { headNow =>
        require(headNow.schemaJson == head.schemaJson &&
            headNow.partitionCols == head.partitionCols,
          s"delta $operation: the table metadata of $table changed under this rewrite; re-run")
        val nowLive = headNow.live.toSet
        val gone = (touched.map(_.path) ++ dvRewrites.map(_._1.path)).filterNot(nowLive.contains)
        require(gone.isEmpty,
          s"delta $operation: file(s) ${gone.take(3).mkString(", ")} were removed by a " +
            "concurrent writer during the rewrite — committing would resurrect/duplicate " +
            "rows; re-run")
        val nowByPath = headNow.liveFiles.map(lf => lf.path -> lf).toMap
        (dvRewrites.map(_._1) ++ touched).foreach { lf =>
          // a rival vector landing between scan and commit would be
          // silently overwritten (dv path) or its deletions
          // resurrected (rewrite path, survivors computed pre-rival)
          require(nowByPath.get(lf.path).forall(_.dvJson == lf.dvJson),
            s"delta $operation: the deletion vector of ${lf.path} changed under this " +
              "rewrite (a rival row-level write landed); re-run")
        }
        val added = (nowLive -- snapshotLive).toSeq.sorted
        require(added.isEmpty,
          s"delta $operation: concurrent write added file(s) ${added.take(3).mkString(", ")} " +
            "whose rows this rewrite never scanned — committing would miss them; re-run")
        val actions = Seq.newBuilder[String]
        actions += commitInfo(operation)
        txn.foreach { case (appId, v) =>
          actions += s"""{"txn":{"appId":${js(appId)},"version":$v}}"""
        }
        touched.foreach(e => actions += removeLine(e.path, e.partitionValues, dataChange))
        adds.foreach(a => actions +=
          addLine(encodePath(a.path), a.partitionValues, a.size, a.mtime, dataChange, a.stats))
        dvRewrites.foreach { case (lf, dvJson) =>
          actions += removeLine(lf.path, lf.partitionValues, dataChange = true)
          // the SAME file re-adds with the vector: log path verbatim,
          // size/mtime from the untouched bytes, physical stats kept
          // (min/max stay conservative over deleted rows — pruning-safe)
          val st = f.getFileStatus(new Path(resolveLogPath(table, lf.path)))
          actions += addLine(lf.path, lf.partitionValues, st.getLen, st.getModificationTime,
            dataChange = true, lf.stats, dv = Some(dvJson))
        }
        cdcSpecs.foreach { c =>
          actions += s"""{"cdc":{"path":${js(encodePath(c.path))},"partitionValues":${pvJson(c.partitionValues)},""" +
            s""""size":${c.size},"dataChange":false}}"""
        }
        Some(actions.result())
      }
    } finally scala.util.Try(f.delete(staging, true))
  }

  private case class AddSpec(path: String, partitionValues: Map[String, Option[String]],
      size: Long, mtime: Long, stats: Option[String])

  /** Validate CHECK constraints over EXISTING rows (addConstraint's
    * declaration gate) — ONE aggregate pass evaluating all of them,
    * naming every violated constraint at once. SQL CHECK semantics: a
    * row violates only when the expression is FALSE (NULL passes). */
  private def enforceConstraints(df: DataFrame, constraints: Map[String, String],
      table: String, op: String): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{expr, max, when, lit}
    val ordered = constraints.toSeq.sortBy(_._1)
    val flags = ordered.map { case (n, e) =>
      max(when(expr(s"($e)") <=> lit(false), 1).otherwise(0)).as(s"__c_$n")
    }
    val row = df.agg(flags.head, flags.tail: _*).collect()(0)
    val violated = ordered.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getInt(i) == 1 => s"$n CHECK ($e)"
    }
    require(violated.isEmpty,
      s"delta $op: row(s) violate CHECK constraint${if (violated.size == 1) "" else "s"} " +
        s"${violated.mkString("; ")} at $table")
  }

  /** `delta.appendOnly=true` (writer v2): any operation that removes
    * or rewrites committed rows refuses — appends (and layout-only
    * OPTIMIZE/ZORDER, which preserve every row) stay allowed. */
  private def requireNotAppendOnly(head: Snapshot, table: String, op: String): Unit =
    require(!head.appendOnly,
      s"delta $op: $table is append-only (delta.appendOnly=true) — removing or " +
        "rewriting committed rows is refused by the table's own declaration")

  private val GateTag = "delta write gate:"

  /** The table's declared row gates for a write — CHECK constraints
    * (`delta.constraints.*`), column invariants (schema metadata
    * `delta.invariants`, writer v2) and NOT NULL fields — as (label,
    * SQL) pairs under SQL CHECK semantics (only FALSE violates; a
    * NOT NULL gate's `IS NOT NULL` is false exactly on null). */
  private[readers] def rowGates(head: Snapshot): Seq[(String, String)] = {
    val schema = head.schema
    val checks = head.constraints.toSeq.sortBy(_._1)
      .map { case (n, e) => s"$n CHECK ($e)" -> e }
    val invariants = schema.fields.toSeq.flatMap { fl =>
      if (!fl.metadata.contains("delta.invariants")) Nil
      else scala.util.Try {
        val node = mapper.readTree(fl.metadata.getString("delta.invariants"))
          .at("/expression/expression")
        if (node.isMissingNode || node.asText().isEmpty) Nil
        else Seq(s"${fl.name} INVARIANT (${node.asText()})" -> node.asText())
      }.getOrElse(Nil)
    }
    val notNulls = schema.fields.toSeq.filterNot(_.nullable)
      .map(fl => s"${fl.name} NOT NULL" -> s"`${fl.name}` IS NOT NULL")
    checks ++ invariants ++ notNulls
  }

  /** Generated columns (`delta.generationExpression` schema metadata):
    * (column, generation SQL) in table order. */
  private[readers] def generationExprs(head: Snapshot): Seq[(String, String)] = {
    val schema = head.schema
    schema.fields.toSeq.filter(_.metadata.contains("delta.generationExpression"))
      .map(fl => fl.name -> fl.metadata.getString("delta.generationExpression"))
  }

  /** Apply row gates IN the staging pass itself — the write that is
    * already scanning every row evaluates them, so a gated append costs
    * ZERO extra scans (an appended 100 TB frame must not pay a second
    * read just to validate; delta-spark's InvariantCheck does the
    * same). A violating row raises from inside the job; `rethrowGate`
    * unwraps the task failure to a clean named error. */
  private def withRowGates(df: DataFrame, gates: Seq[(String, String)],
      table: String, op: String): DataFrame = {
    if (gates.isEmpty) return df
    import org.apache.spark.sql.functions.{expr, lit, when, raise_error}
    val ok = gates.map { case (label, e) =>
      when(expr(s"($e)") <=> lit(false),
        raise_error(lit(s"$GateTag row(s) violate $label at $table ($op)")))
        .otherwise(lit(true))
    }.reduce(_ && _)
    df.where(ok)
  }

  /** Unwrap a gate violation raised inside a staging job to the named
    * error (the job failure buries it in the cause chain). */
  private def rethrowGate[T](body: => T): T =
    try body catch {
      case e: Throwable =>
        val msg = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).take(20)
          .map(t => Option(t.getMessage).getOrElse(""))
          .find(_.contains(GateTag))
        msg match {
          case Some(m) => throw new IllegalArgumentException(m.substring(m.indexOf(GateTag)))
          case None => throw e
        }
    }

  /** Gate for every read-and-rewrite operation (compact/delete/merge):
    * a column-mapped table's data files carry PHYSICAL names this
    * writer's logical-schema scan would silently null out, and a file
    * with a deletion vector read as raw parquet RESURRECTS its deleted
    * rows — both are wrong-answer corruptions, so both refuse naming
    * the connector. */
  private def requireRewritable(head: Snapshot, table: String, op: String,
      allowMapped: Boolean = false): Unit = {
    if (!allowMapped)
      require(head.mappingMode == "none",
        s"delta $op: $table uses column mapping (mode ${head.mappingMode}) — this " +
          "writer's rewrite reads logical names and would null out every mapped column; " +
          "run it with the delta-spark connector")
    else if (head.mappingMode != "none") {
      // delete/merge rewrite mapped tables through the physical-scan /
      // physical-stage round trip — same profile as mapped appends:
      // top-level simple columns, known mode, and no CDF (cdc files
      // under mapping are staged by the connector, not here)
      require(Set("name", "id").contains(head.mappingMode),
        s"delta $op: unknown column mapping mode '${head.mappingMode}' at $table")
      val sch = head.schema
      require(sch.fields.forall(fl => fl.dataType match {
        case _: StructType | _: ArrayType | _: MapType => false
        case _ => true
      }), s"delta $op: $table is column-mapped with NESTED columns — inner physical " +
        "names are outside this writer's profile; use the delta-spark connector")
      require(!head.cdfEnabled,
        s"delta $op: $table is column-mapped with change data feed enabled — cdc " +
          "staging under mapping is outside this writer's profile; use the " +
          "delta-spark connector")
    }
    val dv = head.liveFiles.count(_.hasDv)
    require(dv == 0,
      s"delta $op: $dv live file(s) at $table carry deletion vectors — rewriting them " +
        "from raw parquet would resurrect their deleted rows; run it with the " +
        "delta-spark connector")
  }

  /** Live files whose partition tuple satisfies `predicate`, evaluated
    * EXACTLY (a NULL result keeps the file — it is not being replaced).
    * Driver-local: one LocalRelation filter over the tuple strings cast
    * to the schema's types, the partitionPrune mold but two-sided. */
  private def matchingFiles(spark: SparkSession, head: Snapshot, predicate: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, expr}
    val schema = head.schema
    val partFields = head.partitionCols.map(pc => schema(pc))
    val strSchema = StructType(StructField("__path", StringType) +:
      partFields.map(fl => StructField(fl.name, StringType)))
    import scala.jdk.CollectionConverters._
    // under column mapping, add.partitionValues keys are PHYSICAL names
    val physByLogical: Map[String, String] = head.partitionCols.map { pc =>
      val fl = schema(schema.fieldNames.find(_.equalsIgnoreCase(pc)).getOrElse(pc))
      pc -> (if (fl.metadata.contains("delta.columnMapping.physicalName"))
        fl.metadata.getString("delta.columnMapping.physicalName") else pc)
    }.toMap
    val rows: java.util.List[org.apache.spark.sql.Row] = head.liveFiles.map(lf =>
      org.apache.spark.sql.Row.fromSeq(lf.path +: head.partitionCols.map(pc =>
        lf.partitionValues.get(physByLogical(pc))
          .orElse(lf.partitionValues.get(pc)).flatten.orNull))).asJava
    val typed = spark.createDataFrame(rows, strSchema)
      .select(col("__path") +: partFields.map(fl =>
        col(fl.name).cast(fl.dataType).as(fl.name)): _*)
    typed.where(expr(predicate)).select("__path").collect().map(_.getString(0)).toSeq
  }

  /** Writer features each protocol version IMPLIES — the upgrade rule:
    * converting a version-protocol table to the feature-listed form
    * must list everything the old version granted, or a compliant
    * writer would refuse behaviors the table legally used. */
  private def impliedWriterFeatures(wv: Int): Seq[String] =
    Seq(2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (v, ft) if wv >= v => ft }

  /** SET TBLPROPERTIES (delta-spark `ALTER TABLE ... SET TBLPROPERTIES`):
    * metadata-only commit updating `configuration`, with the protocol
    * upgrades each honored key demands — enabling CDF mid-life bumps to
    * writer v4 (or appends the changeDataFeed feature), enabling
    * deletion vectors converts to the feature-listed protocol (reader
    * 3 / writer 7) carrying every feature the old version implied.
    * The same allowlist as CREATE: behavior-bearing `delta.*` keys this
    * writer does not honor refuse; constraints have their own ops
    * (addConstraint validates existing rows — a raw property set
    * cannot). Custom non-delta keys pass verbatim. */
  def setTableConf(spark: SparkSession, table: String, conf: Map[String, String],
      maxRetries: Int = 10): Unit = {
    require(!conf.keys.exists(_.toLowerCase.startsWith("delta.constraints.")),
      "delta setTableConf: CHECK constraints declare through addConstraint (it " +
        "validates existing rows; a raw property set cannot)")
    val honored = Set("delta.enablechangedatafeed", "delta.enabledeletionvectors",
      "delta.appendonly")
    val unsupported = conf.keys.filter(k =>
      k.toLowerCase.startsWith("delta.") && !honored.contains(k.toLowerCase))
    require(unsupported.isEmpty,
      s"delta setTableConf: propert${if (unsupported.size == 1) "y" else "ies"} " +
        s"${unsupported.mkString(", ")} would declare behavior this writer does not " +
        "implement; alter with the delta-spark connector — supported here: " +
        "delta.enableChangeDataFeed, delta.enableDeletionVectors, delta.appendOnly")
    val canonical = Seq("delta.enableChangeDataFeed", "delta.enableDeletionVectors",
      "delta.appendOnly")
    val confC = conf.map { case (k, v) =>
      canonical.find(_.equalsIgnoreCase(k)).getOrElse(k) -> v }
    commitOnHead(spark, table, "setTableConf", maxRetries) { head =>
      val cdfOn = confC.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")) &&
        !head.cdfEnabled
      val dvOn = confC.get("delta.enableDeletionVectors").exists(_.equalsIgnoreCase("true")) &&
        !head.dvEnabled
      require(!(dvOn && head.mappingMode != "none"),
        s"delta setTableConf: enabling deletion vectors on the column-mapped table " +
          s"$table is outside this writer's profile; alter with the connector")
      val actions = Seq.newBuilder[String]
      actions += commitInfo("SET TBLPROPERTIES")
      val proto = head.protocol
      val wv = head.minWriterVersion
      val rv = head.minReaderVersion
      if (dvOn && !proto.hasNonNull("writerFeatures")) {
        // version protocol → feature-listed: carry every implied
        // feature plus the vectors (old readers must not resurrect
        // deleted rows, hence reader 3)
        val wf = (impliedWriterFeatures(wv) :+ "deletionVectors").distinct
        val rf = Seq("deletionVectors") ++
          (if (head.mappingMode != "none") Seq("columnMapping") else Nil)
        actions += s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[${rf.map(js).mkString(",")}],""" +
          s""""writerFeatures":[${wf.map(js).mkString(",")}]}}"""
      } else if (proto.hasNonNull("writerFeatures")) {
        import scala.jdk.CollectionConverters._
        val feats = proto.get("writerFeatures").elements().asScala.map(_.asText()).toSeq
        val want = (if (dvOn) Seq("deletionVectors") else Nil) ++
          (if (cdfOn) Seq("changeDataFeed") else Nil)
        val missing = want.filterNot(feats.contains)
        if (missing.nonEmpty) {
          val p = proto.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          val arr = p.putArray("writerFeatures")
          (feats ++ missing).foreach(arr.add)
          if (dvOn) {
            val rfOld = Option(proto.get("readerFeatures")).toSeq
              .flatMap(_.elements().asScala.map(_.asText()))
            if (!rfOld.contains("deletionVectors")) {
              val rArr = p.putArray("readerFeatures")
              (rfOld :+ "deletionVectors").foreach(rArr.add)
              p.put("minReaderVersion", 3)
            }
          }
          actions += s"""{"protocol":${p.toString}}"""
        }
      } else if (cdfOn && wv < 4)
        actions += s"""{"protocol":{"minReaderVersion":$rv,"minWriterVersion":4}}"""
      actions += metaLine(head) { md =>
        val cNode = md.withObject("/configuration")
        confC.foreach { case (k, v) => cNode.put(k, v) }
      }
      Some(actions.result())
    }
  }

  /** UNSET TBLPROPERTIES: metadata-only key removal (no protocol
    * downgrade — the spec has none). Disabling CDF/DV this way is the
    * connector's own semantics: emission stops, existing files stay. */
  def unsetTableConf(spark: SparkSession, table: String, keys: Seq[String],
      maxRetries: Int = 10): Unit = {
    require(!keys.exists(_.toLowerCase.startsWith("delta.constraints.")),
      "delta unsetTableConf: constraints drop through dropConstraint")
    commitOnHead(spark, table, "unsetTableConf", maxRetries) { head =>
      Some(Seq(commitInfo("UNSET TBLPROPERTIES"), metaLine(head) { md =>
        val cNode = md.withObject("/configuration")
        import scala.jdk.CollectionConverters._
        val present = cNode.properties().asScala.map(_.getKey).toSeq
        keys.foreach(k => present.find(_.equalsIgnoreCase(k)).foreach(cNode.remove))
      }))
    }
  }

  /** ADD CONSTRAINT (delta-spark `ALTER TABLE ... ADD CONSTRAINT name
    * CHECK (expr)`): validates EXISTING rows in one distributed scan
    * (a violated constraint cannot be declared), then publishes a
    * metadata-only commit adding `delta.constraints.<name>` and — when
    * the current protocol is below it — the writer version 3 the
    * protocol requires for CHECK constraints (feature-listed tables
    * append the checkConstraints writer feature instead). Every later
    * append/merge/update through this writer enforces the constraint
    * in ONE aggregate pass over the staged rows; SQL CHECK semantics
    * (NULL passes). */
  def addConstraint(spark: SparkSession, table: String, name: String, exprSql: String,
      maxRetries: Int = 10): Unit = {
    val f = DeltaLog.fs(spark, table)
    require(name.nonEmpty && name.matches("[A-Za-z0-9_-]+"),
      s"delta addConstraint: invalid constraint name '$name'")
    commitOnHead(spark, table, "addConstraint", maxRetries) { head =>
      require(!head.constraints.keys.exists(_.equalsIgnoreCase(name)),
        s"delta addConstraint: constraint '$name' already exists at $table")
      // existing rows must satisfy — a DV-masked scan so already-deleted
      // rows cannot veto
      if (head.liveFiles.nonEmpty)
        enforceConstraints(
          scanLiveVisible(spark, f, table, head, head.liveFiles),
          Map(name -> exprSql), table, "addConstraint")
      else // empty table: still analyze the expression against the schema
        enforceConstraints(
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            head.schema),
          Map(name -> exprSql), table, "addConstraint")
      val actions = Seq.newBuilder[String]
      actions += commitInfo("ADD CONSTRAINT")
      // protocol: CHECK constraints need writer version 3; feature-
      // listed tables (writer 7) add the checkConstraints feature
      val proto = head.protocol
      if (proto.hasNonNull("writerFeatures")) {
        import scala.jdk.CollectionConverters._
        val feats = proto.get("writerFeatures").elements().asScala.map(_.asText()).toSeq
        if (!feats.contains("checkConstraints")) {
          val p = proto.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          val arr = p.putArray("writerFeatures")
          (feats :+ "checkConstraints").foreach(arr.add)
          actions += s"""{"protocol":${p.toString}}"""
        }
      } else if (head.minWriterVersion < 3)
        actions += s"""{"protocol":{"minReaderVersion":${head.minReaderVersion},"minWriterVersion":3}}"""
      actions += metaLine(head)(_.withObject("/configuration").put(s"delta.constraints.$name", exprSql))
      Some(actions.result())
    }
  }

  /** DROP CONSTRAINT: metadata-only removal of the configuration key
    * (no protocol downgrade — the spec has none). */
  def dropConstraint(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 10): Unit = {
    commitOnHead(spark, table, "dropConstraint", maxRetries) { head =>
      val key = head.constraints.keys.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"delta dropConstraint: no constraint '$name' at $table " +
            s"(have: ${head.constraints.keys.toSeq.sorted.mkString(", ")})"))
      Some(Seq(commitInfo("DROP CONSTRAINT"),
        metaLine(head)(_.withObject("/configuration").remove(s"delta.constraints.$key"))))
    }
  }

  /** SHALLOW CLONE (delta-spark `CREATE TABLE dst SHALLOW CLONE src`):
    * a ZERO-COPY table — one commit whose adds reference the source's
    * live files by ABSOLUTE path (the protocol's absolute-path form,
    * which the reader already resolves), with partitionValues and
    * stats carried verbatim so pruning works identically. O(live
    * files) driver metadata, no data IO — the way to fork a 100 TB
    * table for a dev/test run. The clone then evolves independently:
    * appends/deletes/optimize land in ITS directory; vacuum on the
    * clone never touches source files (they live outside its root) —
    * but vacuum on the SOURCE can reclaim files the clone still
    * references, delta-spark's own documented hazard. Sources with
    * live deletion vectors refuse (DV descriptors are table-relative;
    * OPTIMIZE the source first to purge them). Returns the number of
    * files referenced. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Int = {
    val srcF = DeltaLog.fs(spark, src)
    require(!DeltaLog.exists(spark, dst), s"delta clone: $dst is already a delta table")
    val head = this.head(spark, src)
    require(head.liveFiles.forall(!_.hasDv),
      s"delta clone: $src has live deletion vectors — their descriptors are " +
        "table-relative and cannot be referenced across roots; run " +
        "DeltaWriter.compact (OPTIMIZE purges vectors) first")
    // the clone is a NEW table: fresh id, same schema/partitioning/conf
    // and the source's protocol (the last protocol action wins)
    val actions = Seq(commitInfo("CLONE", s"""{"source":${js(src)}}"""),
      s"""{"protocol":${head.protocolJson}}""",
      metaLine(head) { md =>
        md.put("id", java.util.UUID.randomUUID().toString)
        md.put("createdTime", System.currentTimeMillis())
      }) ++ head.liveFiles.map { lf =>
      val abs = srcF.makeQualified(new Path(resolveLogPath(src, lf.path))).toUri.toString
      addLine(abs, lf.partitionValues, lf.size, 0L, dataChange = true, lf.stats)
    }
    DeltaLog.publish(spark, dst, 0L, actions).get
    head.liveFiles.size
  }

  /** Age out commit jsons the checkpoint has subsumed (delta-spark's
    * metadata cleanup under `delta.logRetentionDuration`, default 30
    * days) — the third leg of retention next to [[checkpoint]] (replay
    * cost) and [[vacuum]] (data files). Only versions AT OR BELOW the
    * current checkpoint delete (replay seeds from the checkpoint, so
    * the head is never at risk), and only when older than `retentionMs`
    * — time travel and change reads below the cleaned range refuse
    * afterwards with the reader's existing "log was cleaned" errors,
    * the same trade delta-spark documents. Returns the commit jsons
    * deleted. */
  def cleanupLog(spark: SparkSession, table: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000, force: Boolean = false,
      dryRun: Boolean = false): Seq[String] = {
    require(retentionMs >= 7L * 24 * 3600 * 1000 || force,
      s"delta writer: log retention ${retentionMs}ms is under 7 days — streams and " +
        "time-travel readers may still replay those commits; pass force = true to override")
    val cpV = head(spark, table).checkpointVersion
    require(cpV >= 0,
      s"delta cleanupLog: $table has no checkpoint — deleting commit jsons would " +
        "break head replay entirely; run DeltaWriter.checkpoint first")
    DeltaLog.expireCommits(spark, table, cpV, System.currentTimeMillis() - retentionMs, dryRun)
  }

  /** VACUUM: delete data files under the table that the CURRENT version
    * does not reference and whose modification time is older than
    * `retentionMs` (time travel to versions needing them breaks — the
    * same trade delta-spark documents; the default 7-day retention
    * protects in-flight readers and writers, and shortening it requires
    * `force = true` exactly like the connector's safety check).
    * Leftover staging directories age out the same way. Returns the
    * deleted paths; `dryRun` only lists them. */
  def vacuum(spark: SparkSession, table: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000, force: Boolean = false,
      dryRun: Boolean = false): Seq[String] = {
    require(retentionMs >= 7L * 24 * 3600 * 1000 || force,
      s"delta writer: vacuum retention ${retentionMs}ms is under 7 days — in-flight " +
        "readers/writers may still reference those files; pass force = true to override")
    val f = DeltaLog.fs(spark, table)
    val tablePath = new Path(table)
    val head = this.head(spark, table)
    val liveResolved: Set[String] = head.live.map(p =>
      f.makeQualified(new Path(tablePath, PathKeys.percentDecode(p))).toString).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val out = Seq.newBuilder[String]
    val it = f.listFiles(tablePath, true)
    while (it.hasNext) {
      val st = it.next()
      val full = f.makeQualified(st.getPath).toString
      val inLog = full.contains("/_delta_log/")
      val dataLike = st.isFile && st.getPath.getName.endsWith(".parquet")
      val stagingLeftover = full.contains("/_staging_")
      if (!inLog && (dataLike || stagingLeftover) && !liveResolved.contains(full) &&
          st.getModificationTime < cutoff) {
        out += full
        if (!dryRun) f.delete(st.getPath, false)
      }
    }
    out.result()
  }

  private def listParquet(f: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = f.listFiles(dir, true)
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) out += st
    }
    out.result()
  }

  /** `p=7/q=3/part-....parquet` → Map(p -> 7, q -> 3) with Spark's
    * directory escaping decoded (a __HIVE_DEFAULT_PARTITION__ segment
    * is a null value). */
  private def partitionValues(rel: String): Map[String, Option[String]] =
    rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val k = seg.takeWhile(_ != '=')
      val v = PathKeys.percentDecode(seg.drop(k.length + 1))
      k -> Option(v).filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
    }.toMap

  /** Delta `stats` JSON from the parquet footer: numRecords always;
    * min/max/nullCount for top-level primitive DATA columns whose
    * footer statistics are present and exact. Timestamps are omitted
    * (their JSON text would lose sub-millisecond precision and the
    * reader's pruning would then be unsound); unknown/missing stats
    * omit the column — the reader fails open per column. */
  private def statsJson(f: FileSystem, file: Path, schema: StructType,
      partCols: Seq[String]): Option[String] = scala.util.Try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, f.getConf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      val dataFields = schema.fields.filterNot(fl => partCols.contains(fl.name))
      val minB = Map.newBuilder[String, String]
      val maxB = Map.newBuilder[String, String]
      val nullB = Map.newBuilder[String, String]
      dataFields.foreach { fl =>
        val render: Any => Option[String] = fl.dataType match {
          case IntegerType | ShortType | ByteType | LongType =>
            v => Some(v.toString)
          case FloatType | DoubleType => v => {
            val d = v.toString.toDouble
            if (d.isNaN || d.isInfinite) None else Some(v.toString)
          }
          case BooleanType => v => Some(v.toString)
          case DateType => v => Some(
            js(java.time.LocalDate.ofEpochDay(v.toString.toLong).toString))
          case StringType => v => Some(js(new String(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, StandardCharsets.UTF_8)))
          case _ => _ => None
        }
        val colStats = blocks.flatMap(_.getColumns.asScala
          .find(c => c.getPath.toDotString == fl.name).map(_.getStatistics))
        if (colStats.nonEmpty && colStats.forall(s =>
            s != null && !s.isEmpty && s.hasNonNullValue && s.isNumNullsSet)) {
          val mins = colStats.flatMap(s => render(s.genericGetMin))
          val maxs = colStats.flatMap(s => render(s.genericGetMax))
          nullB += fl.name -> colStats.map(_.getNumNulls).sum.toString
          if (mins.size == colStats.size && maxs.size == colStats.size) {
            // per-block extremes compare through the TYPED form, not text
            def pick(vs: Seq[String], takeMax: Boolean): String = fl.dataType match {
              case StringType | DateType =>
                // code-point order, matching FileSkipping.statsPrune's
                // comparison domain (UTF8String byte order) — String's
                // UTF-16 code-unit order ranks supplementary-plane
                // chars below U+E000..U+FFFF, so a max picked that way
                // could sort BELOW the true max and let the stats
                // pruner wrongly skip this file
                val ord = Ordering.fromLessThan[String](
                  (a, b) => FileSkipping.codePointCompare(a, b) < 0)
                val unq = vs.map(s => mapper.readTree(s).asText())
                js(if (takeMax) unq.max(ord) else unq.min(ord))
              case FloatType | DoubleType =>
                val ds = vs.map(_.toDouble)
                if (takeMax) vs(ds.indexOf(ds.max)) else vs(ds.indexOf(ds.min))
              case _ =>
                val ls = vs.map(_.toLong)
                if (takeMax) vs(ls.indexOf(ls.max)) else vs(ls.indexOf(ls.min))
            }
            minB += fl.name -> pick(mins, takeMax = false)
            maxB += fl.name -> pick(maxs, takeMax = true)
          }
        }
      }
      def obj(m: Map[String, String]): String =
        m.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
      s"""{"numRecords":$numRecords,"minValues":${obj(minB.result())},""" +
        s""""maxValues":${obj(maxB.result())},"nullCount":${obj(nullB.result())}}"""
    } finally r.close()
  }.toOption
}
