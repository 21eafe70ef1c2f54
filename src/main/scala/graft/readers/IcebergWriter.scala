package graft.readers

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.net.URI
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Native Iceberg WRITER — the Delta writer's format twin, with a
  * deliberately narrower, loudly-gated profile:
  *
  *  - tables of top-level primitive columns, UNPARTITIONED or
  *    IDENTITY-partitioned on dir-text-round-trip columns
  *    (int/long/string/date — the same text-exactness stance the
  *    reader's pruning takes; other transforms and partition types
  *    name the iceberg-spark connector). Partitioned data stages
  *    through Spark's distributed `partitionBy` over DUPLICATED
  *    columns, so the data files keep every column (the spec's rule
  *    for identity sources) while the directory layout yields one
  *    partition tuple per file; manifests carry the typed
  *    `data_file.partition` struct, so written tables prune under the
  *    reader's per-file partition skipping immediately;
  *  - `append` / `overwrite` / `errorifexists`; each commit writes the
  *    data parquet (field ids in the footers, so the reader's by-id
  *    resolution works), ONE manifest Avro, a manifest-list Avro
  *    listing retained + new manifests with their sequence numbers,
  *    and the next `v{N}.metadata.json` published with atomic
  *    create-no-overwrite (the HadoopTables commit primitive) —
  *    version races retry against the re-read head;
  *  - the metadata file is REGENERATED from this writer's own model
  *    each commit, so appending to an EXTERNALLY-written table would
  *    silently drop metadata this model does not carry (sort orders,
  *    properties, branches): tables are stamped with a
  *    `graft.writer=true` property at create and appends to tables
  *    without the stamp refuse, naming the connector;
  *  - `mergeSchema = true` admits ADDITIVE column evolution (the Delta
  *    writer's twin): frame-only columns append to the schema with
  *    fresh field ids under a new schema-id, old files null them by
  *    id; merged frames may omit non-partition columns; type changes
  *    refuse. Field ids equal schema positions across the table's
  *    whole history (create assigns 1..n, evolution appends) — the
  *    invariant the partition-spec source-ids and compaction lean on;
  *  - snapshots carry `summary.operation` append/overwrite, a parent
  *    chain and sequence numbers — so `readChangesSince`, the
  *    `graft-iceberg` streaming source and snapshot time travel work
  *    on written tables immediately.
  */
object IcebergWriter {

  private val mapper = new ObjectMapper()
  private def js(s: String): String = mapper.writeValueAsString(s)

  /** Path string for the metadata/manifests: local `file:` URIs render
    * single-slash (`file:/tmp/…`), which the reader's resolve treats
    * as relative — store the bare absolute path for the file scheme
    * and the full URI otherwise. */
  private def storedPath(p: Path): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else u.toString
  }

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType      => "boolean"
    case IntegerType      => "int"
    case LongType         => "long"
    case FloatType        => "float"
    case DoubleType       => "double"
    case DateType         => "date"
    case StringType       => "string"
    case BinaryType       => "binary"
    case TimestampType    => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType   => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg writer: type ${other.simpleString} outside the supported profile " +
        "(primitive leaves boolean/int/long/float/double/date/string/binary/" +
        "timestamp/decimal, composed through struct/array/map); " +
        "write the table with the iceberg-spark connector")
  }

  /** Writer-profile validation for a FRAME column: primitive leaves
    * composed through struct/array/map (round 12 — the reader already
    * resolves nested types, so writes were the asymmetry). */
  private def validateType(dt: DataType, at: String): Unit = dt match {
    case st: StructType =>
      require(st.fields.nonEmpty, s"iceberg writer: empty struct at '$at'")
      st.fields.foreach(f => validateType(f.dataType, s"$at.${f.name}"))
    case a: ArrayType => validateType(a.elementType, s"$at.element")
    case m: MapType =>
      validateType(m.keyType, s"$at.key"); validateType(m.valueType, s"$at.value")
    case prim => icebergType(prim)
  }

  /** Render a Spark type as the schema-JSON type VALUE (a quoted string
    * for primitives, the spec's object form for struct/list/map),
    * allocating ids for every NESTED field/element/key/value from
    * `alloc` — pre-order, so an appended column's subtree ids are
    * contiguous after its own id. */
  private def typeJsonAlloc(dt: DataType, alloc: () => Int): String = dt match {
    case st: StructType =>
      val fields = st.fields.map { fl =>
        val id = alloc()
        s"""{"id": $id, "name": ${js(fl.name)}, "required": false, """ +
          s""""type": ${typeJsonAlloc(fl.dataType, alloc)}}"""
      }
      s"""{"type": "struct", "fields": [${fields.mkString(", ")}]}"""
    case a: ArrayType =>
      val id = alloc()
      s"""{"type": "list", "element-id": $id, "element-required": ${!a.containsNull}, """ +
        s""""element": ${typeJsonAlloc(a.elementType, alloc)}}"""
    case m: MapType =>
      val kid = alloc()
      val vid = alloc()
      s"""{"type": "map", "key-id": $kid, "key": ${typeJsonAlloc(m.keyType, alloc)}, """ +
        s""""value-id": $vid, "value": ${typeJsonAlloc(m.valueType, alloc)}, """ +
        s""""value-required": ${!m.valueContainsNull}}"""
    case prim => js(icebergType(prim))
  }

  /** Schema-JSON type node → Spark type — the writer-side twin of the
    * reader's convert, so table metadata drives typed comparisons and
    * compaction read schemas for the nested profile too. */
  private def sparkTypeOfNode(t: JsonNode): DataType = {
    import scala.jdk.CollectionConverters._
    if (t.isTextual) sparkTypeOf(t.asText())
    else Option(t.get("type")).map(_.asText()) match {
      case Some("struct") => StructType(t.get("fields").elements().asScala.map(f =>
        StructField(f.get("name").asText(), sparkTypeOfNode(f.get("type")),
          nullable = !Option(f.get("required")).exists(_.asBoolean()))).toArray)
      case Some("list") => ArrayType(sparkTypeOfNode(t.get("element")),
        !Option(t.get("element-required")).exists(_.asBoolean()))
      case Some("map") => MapType(sparkTypeOfNode(t.get("key")),
        sparkTypeOfNode(t.get("value")),
        !Option(t.get("value-required")).exists(_.asBoolean()))
      case other => throw new IllegalArgumentException(
        s"iceberg writer: table schema type '$other' outside the writer profile")
    }
  }

  private val GateTag = "iceberg write gate:"

  /** NOT NULL (required) columns gate IN the staging scan itself — the
    * write that is already reading every row evaluates them, so a
    * gated append costs zero extra passes. A violating row raises from
    * inside the job; `rethrowGate` unwraps to the clean named error. */
  private def withNotNullGate(df: DataFrame, requiredCols: Seq[String],
      table: String, op: String): DataFrame = {
    if (requiredCols.isEmpty) return df
    import org.apache.spark.sql.functions.{col, lit, when, raise_error}
    val ok = requiredCols.map { c =>
      when(col(c).isNull,
        raise_error(lit(s"$GateTag row(s) violate $c NOT NULL at $table ($op)")))
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

  /** Structural type equality ignoring nullability and metadata at
    * every level (Iceberg required-ness and field ids are the
    * writer's, not the frame's). */
  private def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameShape(f.dataType, g.dataType) }
    case (x: ArrayType, y: ArrayType) => sameShape(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      sameShape(x.keyType, y.keyType) && sameShape(x.valueType, y.valueType)
    case _ => a == b
  }

  /** The frame type with `parquet.field.id` metadata attached to every
    * STRUCT member from the schema-JSON node, so staged footers carry
    * ids at each level Spark's parquet writer can express (list/map
    * repeated groups have no Spark-settable ids — the same limitation
    * the iceberg-spark writer inherits from Spark; inner list/map
    * resolution stays positional, matching the native reader). */
  private def attachIds(dt: DataType, t: JsonNode): DataType = (dt, t) match {
    case (st: StructType, node) if node != null && node.isObject &&
        Option(node.get("type")).exists(_.asText() == "struct") =>
      import scala.jdk.CollectionConverters._
      val byName = node.get("fields").elements().asScala.toSeq
        .map(f => f.get("name").asText() -> f).toMap
      StructType(st.fields.map { fl =>
        byName.get(fl.name) match {
          case Some(fn) => StructField(fl.name, attachIds(fl.dataType, fn.get("type")),
            fl.nullable,
            new MetadataBuilder().putLong("parquet.field.id", fn.get("id").asLong()).build())
          case None => fl
        }
      })
    case (a: ArrayType, node) if node != null && node.isObject =>
      a.copy(elementType = attachIds(a.elementType, node.get("element")))
    case (m: MapType, node) if node != null && node.isObject =>
      m.copy(keyType = attachIds(m.keyType, node.get("key")),
        valueType = attachIds(m.valueType, node.get("value")))
    case _ => dt
  }

  /** Every field id in a schema field node's subtree (fallback for
    * metadata missing `last-column-id`). */
  private def idsIn(t: JsonNode): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    if (t == null || t.isTextual || !t.isObject) Nil
    else Option(t.get("type")).map(_.asText()) match {
      case Some("struct") => t.get("fields").elements().asScala.toSeq.flatMap(f =>
        f.get("id").asInt() +: idsIn(f.get("type")))
      case Some("list") => t.get("element-id").asInt() +: idsIn(t.get("element"))
      case Some("map") => Seq(t.get("key-id").asInt(), t.get("value-id").asInt()) ++
        idsIn(t.get("key")) ++ idsIn(t.get("value"))
      case _ => Nil
    }
  }

  /** Highest `graft.txn.version` recorded in a snapshot summary for
    * `appId` along the CURRENT ancestry chain, or -1 — the streaming
    * sink's idempotence probe (Iceberg has no app-transaction action;
    * the connector's sink stores its state in snapshot summaries the
    * same way). Rolled-back snapshots drop off the ancestry and their
    * batch ids correctly become re-committable. */
  def lastTxnVersion(spark: SparkSession, table: String, appId: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (scala.util.Try(IcebergReader.currentMetadataPath(table, conf)).isFailure) return -1L
    val meta = mapper.readTree(IcebergReader.metadataText(table, conf))
    import scala.jdk.CollectionConverters._
    val snapsById = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    var cursor = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
    var last = -1L
    while (cursor.isDefined) {
      val s = snapsById.get(cursor.get).getOrElse(return last) // expired tail
      Option(s.get("summary")).foreach { su =>
        if (Option(su.get("graft.txn.app-id")).exists(_.asText() == appId))
          Option(su.get("graft.txn.version")).foreach(v =>
            last = math.max(last, v.asText().toLong))
      }
      cursor = Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong())
    }
    last
  }

  /** Field nodes of the metadata's CURRENT schema (the one
    * current-schema-id names) — the one walk every schema consumer
    * shares. */
  private def currentSchemaFieldNodes(meta: JsonNode): Seq[JsonNode] = {
    import scala.jdk.CollectionConverters._
    val cur = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala)
      .find(s => s.get("schema-id").asInt() == cur).toSeq
      .flatMap(_.get("fields").elements().asScala)
  }
  private def currentSchemaNameTypes(meta: JsonNode): Seq[(String, String)] =
    currentSchemaFieldNodes(meta).map(fl =>
      (fl.get("name").asText(), fl.get("type").asText()))

  def write(spark: SparkSession, df: DataFrame, table: String,
      mode: String = "append", maxRetries: Int = 10,
      txn: Option[(String, Long)] = None,
      partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false,
      replaceWhere: Option[String] = None,
      // write-to-branch (iceberg's toBranch): the commit advances the
      // named branch ref instead of main — current-snapshot-id and the
      // snapshot-log stay untouched, so main readers and streams never
      // see the branch's rows until fastForward publishes them
      toBranch: Option[String] = None,
      // CREATE-only: top-level columns declared `required` in the
      // schema (iceberg NOT NULL); every write gates them in the
      // staging scan itself (zero extra passes)
      notNull: Seq[String] = Nil): Unit = {
    require(Set("append", "overwrite", "errorifexists").contains(mode),
      s"iceberg writer: unknown mode '$mode' (append | overwrite | errorifexists)")
    require(replaceWhere.isEmpty || mode == "overwrite",
      "iceberg writer: replaceWhere requires mode = overwrite")
    toBranch.foreach { b =>
      require(mode != "errorifexists",
        "iceberg writer: toBranch needs an existing table (mode errorifexists contradicts it)")
      require(replaceWhere.isEmpty,
        "iceberg writer: replaceWhere cannot target a branch — its merged manifest would " +
          "tombstone against MAIN's live set, not the branch's")
      require(!mergeSchema,
        "iceberg writer: mergeSchema on a branch write would publish a schema evolution " +
          "main never sees consistently; evolve on main first, then write to the branch")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val metaDir = new Path(table.stripSuffix("/") + "/metadata")
    val exists = f.exists(metaDir) &&
      scala.util.Try(IcebergReader.currentMetadataPath(table, conf)).isSuccess
    require(!(exists && mode == "errorifexists"),
      s"iceberg writer: table already exists at $table (mode errorifexists)")
    require(toBranch.isEmpty || exists,
      s"iceberg writer: toBranch '${toBranch.getOrElse("")}' needs an existing table " +
        s"(no iceberg table at $table)")
    require(notNull.isEmpty || !exists,
      s"iceberg writer: notNull applies at CREATE only — $table already exists " +
        "(required-ness evolution stays with the iceberg-spark connector)")
    require(notNull.forall(n => df.schema.fieldNames.exists(_.equalsIgnoreCase(n))),
      s"iceberg writer: notNull column(s) ${notNull.filterNot(n =>
        df.schema.fieldNames.exists(_.equalsIgnoreCase(n))).mkString(",")} not in the frame")
    df.schema.fields.foreach(fl => validateType(fl.dataType, fl.name)) // gate up front

    val prior = if (exists) Some(mapper.readTree(IcebergReader.metadataText(table, conf))) else None
    prior.foreach { meta =>
      require(Option(meta.get("properties")).exists(p =>
          Option(p.get("graft.writer")).exists(_.asText() == "true")),
        s"iceberg writer: $table was not written by this writer — regenerating its " +
          "metadata would drop state this model does not carry (sort orders, branches, " +
          "properties); write it with the iceberg-spark connector")
      // typed (node-driven) comparison so nested columns compare by
      // structure, not by a flattened type string; sameType ignores
      // nullability at every level (Iceberg required-ness is ours)
      val expected = currentSchemaFieldNodes(meta).map(n =>
        (n.get("name").asText(), sparkTypeOfNode(n.get("type"))))
      val got = df.schema.fields.toSeq.map(fl => (fl.name, fl.dataType))
      if (mergeSchema) {
        val conflicts = got.filter { case (n, t) =>
          expected.exists(e => e._1 == n && !sameShape(e._2, t)) }
        require(conflicts.isEmpty,
          s"iceberg writer: mergeSchema cannot change column types — " +
            conflicts.map(_._1).mkString(",") + "; type evolution stays with the connector")
      } else require(expected.length == got.length &&
          expected.zip(got).forall { case ((en, et), (gn, gt)) => en == gn && sameShape(et, gt) },
        s"iceberg writer: schema mismatch — table has " +
          s"${expected.map(e => s"${e._1}:${e._2.simpleString}").mkString(",")}, " +
          s"frame has ${got.map(g => s"${g._1}:${g._2.simpleString}").mkString(",")}; " +
          "pass mergeSchema = true to add columns (other evolution stays with the connector)")
    }
    // merged schema: table fields first, carrying their EXISTING ids
    // and type JSON verbatim (ids must never re-derive — nested
    // subtrees allocated ids at their own creation time); frame-only
    // columns append with fresh ids past last-column-id. On a fresh
    // table, TOP-LEVEL ids are 1..n (the primitive-era invariant the
    // partition source-ids and existing tables rely on) and nested
    // field/element/key/value ids allocate after n, pre-order. A
    // merged frame may omit non-partition table columns: its data
    // files simply lack those field ids and the reader's resolution
    // nulls them, exactly like old files null the added columns.
    case class SField(name: String, id: Int, dt: DataType, typeJson: String,
        required: Boolean = false)
    val (schemaFieldsAll: Seq[SField], lastColumnId: Int) = prior match {
      case None =>
        var next = df.schema.fields.length + 1
        val alloc = () => { val i = next; next += 1; i }
        val fs = df.schema.fields.toSeq.zipWithIndex.map { case (fl, i) =>
          SField(fl.name, i + 1, fl.dataType, typeJsonAlloc(fl.dataType, alloc),
            required = notNull.exists(_.equalsIgnoreCase(fl.name))) }
        (fs, next - 1)
      case Some(meta) =>
        val nodes = currentSchemaFieldNodes(meta)
        val existing = nodes.map { n =>
          val t = n.get("type")
          SField(n.get("name").asText(), n.get("id").asInt(), sparkTypeOfNode(t),
            if (t.isTextual) js(t.asText()) else t.toString,
            required = Option(n.get("required")).exists(_.asBoolean()))
        }
        val floor = Option(meta.get("last-column-id")).map(_.asInt()).getOrElse(
          (nodes.map(_.get("id").asInt()) ++ nodes.flatMap(n => idsIn(n.get("type"))))
            .maxOption.getOrElse(0))
        var next = floor + 1
        val alloc = () => { val i = next; next += 1; i }
        val appended = df.schema.fields.toSeq
          .filterNot(fl => existing.exists(_.name == fl.name)).map { fl =>
            val id = alloc()
            SField(fl.name, id, fl.dataType, typeJsonAlloc(fl.dataType, alloc))
          }
        (existing ++ appended, next - 1)
    }
    val mergedFields: Seq[(String, DataType)] = schemaFieldsAll.map(sf => (sf.name, sf.dt))
    val mergedNames = schemaFieldsAll.map(_.name)
    val topIdOf: Map[String, Int] = schemaFieldsAll.map(sf => sf.name -> sf.id).toMap
    val statFields: Seq[(String, DataType, Int)] =
      schemaFieldsAll.map(sf => (sf.name, sf.dt, sf.id))
    val schemaChanged = prior.exists(meta =>
      currentSchemaFieldNodes(meta).map(_.get("name").asText()) != mergedNames)
    // partitioning: an existing table's DEFAULT spec governs (the Delta
    // writer's stance — an empty partitionBy adopts it, an explicit one
    // must match exactly; partition-spec evolution stays with the
    // connector). Tokens: a bare column name is identity; a
    // `bucket(N, col)` token is the spec's bucket[N] over the column
    // (the murmur3 the reader's transform pruning recomputes).
    val tableSpec: Option[Seq[(String, String, Int)]] = prior.map { meta =>
      import scala.jdk.CollectionConverters._
      val cur = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
      Option(meta.get("partition-specs")).toSeq.flatMap(_.elements().asScala)
        .find(sp => Option(sp.get("spec-id")).map(_.asInt()).getOrElse(0) == cur)
        .toSeq.flatMap(_.get("fields").elements().asScala)
        .map(pf => (pf.get("name").asText(), pf.get("transform").asText(),
          pf.get("source-id").asInt()))
    }
    val requested: Seq[(String, PTf)] = partitionBy.map(parsePartToken)
    val tableTokens: Option[Seq[(String, PTf)]] = tableSpec.map(_.map { case (name, transform, sourceId) =>
      val srcCol = schemaFieldsAll.find(_.id == sourceId).map(_.name).getOrElse(
        throw new IllegalArgumentException(
          s"iceberg writer: partition source-id $sourceId outside the schema of $table"))
      transform match {
        case "identity"      => (srcCol, PIdentity: PTf)
        case BucketTfRe(n)   => (srcCol, PBucket(n.toInt))
        case TruncateTfRe(w) => (srcCol, PTruncate(w.toInt))
        case k @ ("year" | "month" | "day" | "hour") => (srcCol, PTemporal(k))
        case other => throw new IllegalArgumentException(
          s"iceberg writer: $table has partition transform '$other' — outside this " +
            "writer's profile; write it with the iceberg-spark connector")
      }
    })
    tableTokens.foreach { toks =>
      require(requested.isEmpty || requested == toks,
        s"iceberg writer: partitioning mismatch — table is partitioned by " +
          s"[${toks.map(renderPartToken).mkString(",")}], write requested " +
          s"[${partitionBy.mkString(",")}]; partition-spec evolution stays with the connector")
    }
    val partTokens: Seq[(String, PTf)] = tableTokens.getOrElse(requested)
    // one entry per partition field: (field name, source column,
    // transform, the TUPLE type — int for bucket/temporal ordinals,
    // the source type for identity/truncate)
    val partDefs: Seq[(String, String, PTf, DataType)] = partTokens.map { case (c, tf) =>
      val i = df.schema.fieldNames.indexOf(c)
      require(i >= 0, s"iceberg writer: partition column '$c' not in the frame " +
        s"(${df.schema.fieldNames.mkString(",")})")
      val fl = df.schema.fields(i)
      val allowed: Set[DataType] = tf match {
        case PIdentity | PBucket(_) => Set(IntegerType, LongType, StringType, DateType)
        case PTruncate(_)           => Set(IntegerType, LongType, StringType)
        case PTemporal("hour")      => Set(TimestampType, TimestampNTZType)
        case PTemporal(_)           => Set(DateType, TimestampType, TimestampNTZType)
      }
      require(allowed.contains(fl.dataType),
        s"iceberg writer: partition column '$c' of type ${fl.dataType.simpleString} — " +
          s"the ${renderPartToken((c, tf))} transform supports " +
          s"[${allowed.map(_.simpleString).mkString("/")}] sources in this writer's " +
          "profile; write the table with the iceberg-spark connector")
      require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"iceberg writer: partition column name '$c' outside [A-Za-z0-9_] — " +
          "write the table with the iceberg-spark connector")
      tf match {
        case PIdentity    => (c, c, tf, fl.dataType)
        case PBucket(_)   => (s"${c}_bucket", c, tf, IntegerType: DataType)
        case PTruncate(_) => (s"${c}_trunc", c, tf, fl.dataType)
        case PTemporal(k) => (s"${c}_$k", c, tf, IntegerType: DataType)
      }
    }
    val partCols: Seq[String] = partDefs.map(_._1) // partition FIELD names
    val partFields: Seq[StructField] = partDefs.map(d => StructField(d._1, d._4))

    // '' in a string IDENTITY (or truncate — '' truncates to '')
    // partition source stages as Spark's __HIVE_DEFAULT_PARTITION__
    // directory, which the dir-text round trip reads back as a NULL
    // tuple — replaceWhere "p = ''" would then pass the row gate yet
    // match no manifest entries (old rows stay live), and
    // spec-compliant readers projecting identity values from the tuple
    // would surface null instead of ''. Refuse, naming the connector —
    // consistent with the other round-trip gates. (Bucket/temporal
    // fields are immune: their tuple is the int ordinal.)
    {
      val emptyable = partDefs.filter(d =>
        (d._3 == PIdentity || d._3.isInstanceOf[PTruncate]) &&
        df.schema(d._2).dataType == StringType).map(_._2)
      if (emptyable.nonEmpty) {
        val pred = emptyable.map(c => s"`$c` = ''").mkString(" OR ")
        require(df.where(pred).limit(1).count() == 0,
          s"iceberg writer: empty-string value(s) in string identity partition column(s) " +
            s"[${emptyable.mkString(",")}] — '' does not survive the directory-text round " +
            "trip (it stages as the null partition); write the table with the " +
            "iceberg-spark connector or filter/replace the empty values")
      }
    }

    // replaceWhere (partition-scoped overwrite, the Delta writer's
    // stance): the predicate must cover ONLY partition columns — exact
    // per-file evaluation is then possible — and every incoming row
    // must satisfy it, or rows would land in partitions the overwrite
    // claims not to touch
    replaceWhere.foreach { rw =>
      require(partCols.nonEmpty, "iceberg writer: replaceWhere needs a partitioned table")
      // identity fields only: a bucket field's source predicate cannot
      // scope files exactly (one bucket holds many source values)
      val identityCols = partDefs.filter(_._3 == PIdentity).map(_._2.toLowerCase).toSet
      val conjs = FileSkipping.conjuncts(rw)
      val perConj = conjs.map(FileSkipping.usableRefs)
      // EVERY conjunct must analyze — a silently dropped one (qualified
      // ref, nondeterministic call) would pass the gate here and fail
      // only inside the commit loop, after the frame staged
      require(conjs.nonEmpty && perConj.forall(_.isDefined),
        s"iceberg writer: replaceWhere '$rw' has conjunct(s) this writer cannot analyze " +
          "(qualified, nondeterministic or subquery references); use bare partition column names")
      val refs = perConj.flatten.flatten.toSet
      require(refs.nonEmpty && refs.subsetOf(identityCols),
        s"iceberg writer: replaceWhere '$rw' must reference identity partition columns only " +
          s"([${partDefs.filter(_._3 == PIdentity).map(_._2).mkString(",")}]); data-column and " +
          "bucket-source predicates need the connector's row rewrite")
      val violating = df.where(s"NOT ($rw) OR ($rw) IS NULL").limit(1).count()
      require(violating == 0,
        s"iceberg writer: incoming rows violate replaceWhere '$rw' — they would land " +
          "outside the partitions being replaced")
    }

    // 1. stage data files with field ids in the parquet footers — at
    // the top level AND on nested struct members (Dataset.to applies
    // the target schema's metadata at every level; list/map repeated
    // groups have no Spark-settable ids, the iceberg-spark writer's
    // own inherited limitation). Partition columns are DUPLICATED
    // under a staging-only prefix so Spark's partitionBy yields the
    // one-tuple-per-file layout while the data files keep every real
    // column (the spec's rule for identity sources — the reader scans
    // data files as the full table).
    // required (NOT NULL) columns: a merged frame omitting one would
    // stage files that serve null — refuse up front; present ones gate
    // in the staging scan below (zero extra passes)
    val requiredCols = schemaFieldsAll.filter(_.required).map(_.name)
    val missingReq = requiredCols.filterNot(rc =>
      df.schema.fieldNames.exists(_.equalsIgnoreCase(rc)))
    require(missingReq.isEmpty,
      s"iceberg writer: required (NOT NULL) column(s) ${missingReq.mkString(",")} " +
        s"absent from the frame — the staged files would serve null at $table")
    val dfGated = withNotNullGate(df, requiredCols.filter(rc =>
      df.schema.fieldNames.exists(_.equalsIgnoreCase(rc))), table, "write")
    val withIds = dfGated.select(df.schema.fields.map { fl =>
      val sf = schemaFieldsAll.find(_.name == fl.name).get
      val attached = attachIds(fl.dataType, mapper.readTree(sf.typeJson))
      // nested ids ride a same-shape CAST (target type differs only in
      // nested StructField metadata, which the parquet writer reads);
      // the top-level id rides the alias metadata as before
      val base = if (attached == fl.dataType) dfGated(fl.name) else dfGated(fl.name).cast(attached)
      base.as(fl.name,
        new MetadataBuilder().putLong("parquet.field.id", sf.id.toLong).build())
    }.toSeq: _*)
    val stagedDf = partDefs.foldLeft(withIds) { case (d, (fieldName, srcCol, tf, _)) =>
      val srcDt = df.schema(df.schema.fieldIndex(srcCol)).dataType
      val value = tf match {
        case PBucket(n)   => bucketColumn(d(srcCol), srcDt, n)
        case PTruncate(w) => truncateColumn(d(srcCol), srcDt, w)
        case PTemporal(k) => temporalColumn(d(srcCol), srcDt, k)
        case PIdentity    => d(srcCol)
      }
      d.withColumn(DupPrefix + fieldName, value)
    }
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    val stWriter = stagedDf.write.mode("overwrite")
    rethrowGate(withMicrosTimestamps(stagedDf.sparkSession) {
      (if (partCols.nonEmpty) stWriter.partitionBy(partCols.map(DupPrefix + _): _*)
       else stWriter).parquet(staging.toString)
    })
    try {
      val stagingQ = f.makeQualified(staging).toString
      val stagedFiles: Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
        val it = f.listFiles(staging, true)
        val out = Seq.newBuilder[(org.apache.hadoop.fs.FileStatus, String)]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet"))
            out += ((st, f.makeQualified(st.getPath).toString.stripPrefix(stagingQ + "/")))
        }
        out.result()
      }
      val dataDir = new Path(table.stripSuffix("/") + "/data")
      f.mkdirs(dataDir)
      val moved: Seq[(String, Long, FooterStats, Map[String, String])] = stagedFiles.map { case (st, rel) =>
        val tuple = partitionDirValues(rel)
        require(partCols.forall(tuple.contains),
          s"iceberg writer: staged file $rel missing partition segments for " +
            s"[${partCols.filterNot(tuple.contains).mkString(",")}]")
        // hive-style layout under data/ (strictly cosmetic — manifests
        // carry absolute paths; the dirs keep same-named task files from
        // different partitions apart and the table browsable)
        val destDir = partCols.foldLeft(dataDir)((d, c) => new Path(d,
          s"$c=${rel.split("/").find(_.startsWith(s"$DupPrefix$c=")).get.drop(DupPrefix.length + c.length + 1)}"))
        f.mkdirs(destDir)
        val dest = new Path(destDir, st.getPath.getName)
        require(f.rename(st.getPath, dest), s"iceberg writer: rename to $dest failed")
        val d = f.getFileStatus(dest)
        (storedPath(d.getPath), d.getLen, footerStats(f, d.getPath, statFields), tuple)
      }

      // 2-4. manifest + manifest list + metadata, optimistic loop
      var attempt = 0
      var committed = false
      while (!committed) {
        val headPath = if (!exists) None
          else Some(IcebergReader.currentMetadataPath(table, conf))
        // state and version parse from ONE path resolution — a fresh
        // version read after a rival landed would commit past it and
        // silently drop its snapshot (see ownedMetaV)
        val head = headPath.map(p => mapper.readTree(IcebergReader.readTextAt(p, conf)))
        // concurrency guard, re-run per attempt: the staged parquet
        // footers carry field ids from the merge computed BEFORE
        // staging. If a rival evolution landed since (the head schema
        // no longer derives the same merged layout), those ids would
        // bind to the RIVAL's columns — publishing would be silent
        // by-id corruption, so refuse and let the caller re-run.
        head.foreach { m =>
          val nowNodes = currentSchemaFieldNodes(m)
          val nowMerged = nowNodes.map(_.get("name").asText()) ++
            df.schema.fieldNames.toSeq.filterNot(n =>
              nowNodes.exists(_.get("name").asText() == n))
          val typesAgree = nowNodes.forall { n =>
            val nm = n.get("name").asText()
            mergedFields.exists { case (mn, mdt) =>
              mn == nm && sameShape(mdt, sparkTypeOfNode(n.get("type"))) } }
          require(nowMerged == mergedNames && typesAgree,
            s"iceberg writer: the schema of $table changed under this write (a concurrent " +
              "evolution landed) — the staged files' field ids would bind to the wrong " +
              "columns; re-run the write against the new schema")
        }
        // branch writes: the REF's head is parent and retained-manifest
        // base — re-resolved per attempt, so a rival branch write just
        // retries against the advanced head. A branch write on an
        // evolved-schema frame refused above (schemaChanged gate below).
        val branchHead: Option[Long] = toBranch.map { b =>
          val m = head.get
          val r = Option(m.get("refs")).flatMap(rs => Option(rs.get(b))).getOrElse(
            throw new IllegalArgumentException(
              s"iceberg writer: no branch '$b' at $table — createBranch first" +
                Option(m.get("refs")).map(rs => {
                  import scala.jdk.CollectionConverters._
                  s" (have: ${rs.properties().asScala.map(_.getKey).toSeq.sorted.mkString(", ")})"
                }).getOrElse("")))
          require(Option(r.get("type")).forall(_.asText() == "branch"),
            s"iceberg writer: ref '$b' at $table is a tag — tags are immutable; " +
              "branch from it with createBranch")
          r.get("snapshot-id").asLong()
        }
        if (toBranch.isDefined) require(!schemaChanged,
          "iceberg writer: a branch write cannot evolve the schema (the evolution would " +
            "publish to main's schema history from a branch commit); evolve on main first")
        val lastSeq = head.flatMap(m => Option(m.get("last-sequence-number")).map(_.asLong()))
          .getOrElse(0L)
        val seq = lastSeq + 1
        val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
        val mainHeadId = head.flatMap(m => Option(m.get("current-snapshot-id"))
          .map(_.asLong()).filter(_ != -1L))
        val parentId = if (toBranch.isDefined) branchHead else mainHeadId
        val movedRows = moved.map { case (p, sz, fs, tuple) =>
          ManifestEntry(p, sz, fs.records,
            partFields.map(pf => typedPartitionValue(tuple(pf.name), pf.dataType)),
            fs.lower, fs.upper)
        }
        val manifestRows = (replaceWhere, head) match {
          case (Some(rw), Some(m)) =>
            // partition-scoped overwrite: the merged manifest carries
            // the SURVIVING live entries next to the new files —
            // re-resolved per attempt, so a lost race never tombstones
            // stale state (the Delta twin's discipline). Sequence
            // numbers reset like compact's merge; safe absent delete
            // files, which the profile excludes.
            val live = liveEntries(spark, m, table)
            val doomed = matchingEntryPaths(spark, live, partFields, rw)
            live.filterNot(e => doomed.contains(e.path)).map(toManifestEntry(_, partFields)) ++
              movedRows
          case _ => movedRows
        }
        val manifest = writeManifest(spark, f, table, snapshotId, manifestRows, partFields)
        // retained manifests: append keeps the current snapshot's list
        // (with each manifest's ORIGINAL sequence number and partition
        // summaries); overwrite starts fresh
        val retained: Seq[(String, Long, Long, Int, Boolean, Option[Seq[FieldSummary]])] =
          if (mode != "append") Nil
          else head.toSeq.flatMap { m =>
            import scala.jdk.CollectionConverters._
            // an append's base is the lineage being advanced: the
            // branch ref's head for branch writes, main otherwise
            val curId = if (toBranch.isDefined) branchHead
              else Option(m.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
            val snaps = Option(m.get("snapshots")).toSeq.flatMap(_.elements().asScala)
            curId.flatMap(id => snaps.find(_.get("snapshot-id").asLong() == id)).toSeq
              .flatMap { snap =>
                IcebergReader.manifestListRowsOf(spark,
                  snap.get("manifest-list").asText(), table)
                  .map { case (p, sq, specId, isDel, pj) =>
                    (p, 0L, sq, specId, isDel, summariesFromJson(pj)) }
              }
          }
        val listPath = writeManifestList(spark, f, table, snapshotId,
          (manifest._1, manifest._2, seq, 0, false,
            if (partFields.isEmpty) None else Some(manifest._3)) +: retained)
        val version = headPath.map(p => versionOfName(new Path(p).getName) + 1).getOrElse(1L)
        val tableUuid = head.flatMap(m => Option(m.get("table-uuid")).map(_.asText()))
          .getOrElse(java.util.UUID.randomUUID().toString)
        val now = System.currentTimeMillis()
        val schemaFields = schemaFieldsAll.map { sf =>
          s"""{"id": ${sf.id}, "name": ${js(sf.name)}, "required": ${sf.required}, """ +
            s""""type": ${sf.typeJson}}"""
        }.mkString(", ")
        import scala.jdk.CollectionConverters._
        // schema history: unchanged writes reuse the head's schemas
        // verbatim; an additive evolution appends a NEW schema object
        // with the next schema-id and bumps current-schema-id (old
        // snapshots keep referencing theirs)
        val priorSchemas: Seq[String] = head.toSeq.flatMap(m =>
          Option(m.get("schemas")).toSeq.flatMap(_.elements().asScala).map(_.toString))
        val priorCurSchemaId = head.flatMap(m =>
          Option(m.get("current-schema-id")).map(_.asInt())).getOrElse(0)
        val curSchemaId =
          if (!exists) 0
          else if (!schemaChanged) priorCurSchemaId
          else head.toSeq.flatMap(m => Option(m.get("schemas")).toSeq
            .flatMap(_.elements().asScala).map(_.get("schema-id").asInt())).maxOption.getOrElse(-1) + 1
        val schemasJson =
          if (priorSchemas.isEmpty)
            s"""[{"schema-id": $curSchemaId, "type": "struct", "fields": [$schemaFields]}]"""
          else if (schemaChanged)
            (priorSchemas :+
              s"""{"schema-id": $curSchemaId, "type": "struct", "fields": [$schemaFields]}""")
              .mkString("[", ",\n    ", "]")
          else priorSchemas.mkString("[", ",\n    ", "]")
        val priorSnaps: Seq[String] = head.toSeq.flatMap(m =>
          Option(m.get("snapshots")).toSeq.flatMap(_.elements().asScala).map(_.toString))
        // refs (tags/branches) ride through appends verbatim — this
        // template regenerates the metadata, so an unthreaded field
        // would be silently DROPPED by the first write after tagging.
        // A branch write ADVANCES its ref to the new snapshot here.
        val refsJson: Option[String] = {
          val base = head.flatMap(m => Option(m.get("refs")).filterNot(_.isNull))
            .map(_.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
          toBranch match {
            case Some(b) =>
              val node = base.getOrElse(mapper.createObjectNode())
              val e = node.putObject(b)
              e.put("snapshot-id", snapshotId)
              e.put("type", "branch")
              Some(node.toString)
            case None => base.map(_.toString)
          }
        }
        val refsLine: String = refsJson
          .map(r => s""""refs": $r,\n             |  """.stripMargin).getOrElse("")
        // properties ride through writes verbatim (same threading rule
        // as refs — the template regenerates the metadata); the
        // ownership stamp is re-asserted on top
        val propsJson: String = {
          val node = head.flatMap(m => Option(m.get("properties")).filterNot(_.isNull))
            .map(_.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
            .getOrElse(mapper.createObjectNode())
          node.put("graft.writer", "true")
          node.toString
        }
        // a branch commit leaves main untouched: current-snapshot-id
        // keeps pointing at main's head and the snapshot-log (main's
        // lineage record) gains nothing
        val curAfter: Long =
          if (toBranch.isDefined) mainHeadId.getOrElse(-1L) else snapshotId
        val txnProps = txn.map { case (appId, v) =>
          s""", "graft.txn.app-id": ${js(appId)}, "graft.txn.version": ${js(v.toString)}"""
        }.getOrElse("")
        val newSnap =
          s"""{"snapshot-id": $snapshotId, ${parentId.map(p => s""""parent-snapshot-id": $p, """).getOrElse("")}""" +
            s""""sequence-number": $seq, "timestamp-ms": $now, "schema-id": $curSchemaId, """ +
            s""""summary": {"operation": ${js(if (mode == "overwrite" && exists) "overwrite" else "append")}$txnProps}, """ +
            s""""manifest-list": ${js(listPath)}}"""
        val priorLog: Seq[String] = head.toSeq.flatMap(m =>
          Option(m.get("snapshot-log")).toSeq.flatMap(_.elements().asScala).map(_.toString))
        val metaJson =
          s"""{
             |  "format-version": 2,
             |  "table-uuid": ${js(tableUuid)},
             |  "location": ${js(table.stripSuffix("/"))},
             |  "last-sequence-number": $seq,
             |  "last-updated-ms": $now,
             |  "last-column-id": $lastColumnId,
             |  "current-schema-id": $curSchemaId,
             |  "schemas": $schemasJson,
             |  "default-spec-id": 0,
             |  "partition-specs": [{"spec-id": 0, "fields": [${
                  partDefs.zipWithIndex.map { case ((fieldName, srcCol, tf, _), i) =>
                    val transform = tf match {
                      case PIdentity    => "identity"
                      case PBucket(n)   => s"bucket[$n]"
                      case PTruncate(w) => s"truncate[$w]"
                      case PTemporal(k) => k
                    }
                    s"""{"name": ${js(fieldName)}, "transform": ${js(transform)}, """ +
                      s""""source-id": ${topIdOf(srcCol)}, "field-id": ${1000 + i}}"""
                  }.mkString(", ")}]}],
             |  "last-partition-id": ${999 + partCols.size},
             |  "default-sort-order-id": 0,
             |  "sort-orders": [{"order-id": 0, "fields": []}],
             |  "properties": $propsJson,
             |  $refsLine"current-snapshot-id": $curAfter,
             |  "snapshots": [${(priorSnaps :+ newSnap).mkString(",\n    ")}],
             |  "snapshot-log": [${(if (toBranch.isDefined) priorLog
                  else priorLog :+ s"""{"snapshot-id": $snapshotId, "timestamp-ms": $now}""")
                    .mkString(",\n    ")}]
             |}""".stripMargin
        val metaPath = new Path(metaDir, s"v$version.metadata.json")
        f.mkdirs(metaDir)
        val ok = scala.util.Try {
          val out = f.create(metaPath, /* overwrite = */ false)
          try out.write(metaJson.getBytes(StandardCharsets.UTF_8)) finally out.close()
        }
        if (ok.isSuccess) committed = true
        else {
          attempt += 1
          require(attempt <= maxRetries,
            s"iceberg writer: lost the commit race $maxRetries times at $table — " +
              s"giving up (${ok.failed.get.getMessage})")
        }
      }
    } finally scala.util.Try(f.delete(staging, true))
  }

  /** A manifest-list field summary (spec `field_summary`): drives
    * whole-manifest skipping before any manifest read. */
  private case class FieldSummary(containsNull: Boolean,
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])

  /** The spec's single-value little-endian framing, shared by summary
    * and per-file bound encoders (one copy, or the two could drift
    * against the reader's decodeBound). */
  private def leBytes(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fill(bb); bb.array()
  }

  /** Single-value serialization for summary bounds — the exact inverse
    * of the reader's decodeBound (ints/longs/dates little-endian,
    * strings raw UTF-8). */
  private def encodeBound(v: Any): Option[Array[Byte]] = v match {
    case i: java.lang.Integer => Some(leBytes(4)(_.putInt(i)))
    case l: java.lang.Long    => Some(leBytes(8)(_.putLong(l)))
    case d: java.sql.Date     => Some(leBytes(4)(_.putInt(d.toLocalDate.toEpochDay.toInt)))
    case s: String            => Some(s.getBytes(StandardCharsets.UTF_8))
    case _                    => None
  }

  /** Per-field summaries of a manifest's entry tuples. String bounds
    * order by CODE POINTS — the same comparator the reader's
    * rangeExcludes applies, so the bounds are conservative by
    * construction. */
  private def summarize(rows: Seq[ManifestEntry],
      partFields: Seq[StructField]): Seq[FieldSummary] =
    partFields.zipWithIndex.map { case (pf, i) =>
      val vs = rows.map(_.tuple(i))
      val nonNull = vs.filter(_ != null)
      if (nonNull.isEmpty) FieldSummary(containsNull = vs.nonEmpty, None, None)
      else {
        val ord: Ordering[Any] = pf.dataType match {
          case StringType => Ordering.comparatorToOrdering(
            ((a: Any, b: Any) => FileSkipping.codePointCompare(
              a.asInstanceOf[String], b.asInstanceOf[String])): java.util.Comparator[Any])
          case DateType => Ordering.by((x: Any) => x.asInstanceOf[java.sql.Date].getTime)
          case _        => Ordering.by((x: Any) => x.asInstanceOf[Number].longValue())
        }
        FieldSummary(vs.exists(_ == null),
          encodeBound(nonNull.min(ord)), encodeBound(nonNull.max(ord)))
      }
    }

  /** Retained manifests carry their ORIGINAL summaries forward: the
    * stored partitions JSON (to_json of the field_summary array)
    * decodes back to bytes. None on anything unexpected — the skip
    * fails open for that manifest. */
  private def summariesFromJson(pj: String): Option[Seq[FieldSummary]] =
    Option(pj).flatMap(p => scala.util.Try {
      val arr = mapper.readTree(p)
      (0 until arr.size()).map { i =>
        val n = arr.get(i)
        FieldSummary(
          Option(n.get("contains_null")).exists(x => !x.isNull && x.asBoolean()),
          Option(n.get("lower_bound")).filterNot(_.isNull)
            .map(x => java.util.Base64.getDecoder.decode(x.asText())),
          Option(n.get("upper_bound")).filterNot(_.isNull)
            .map(x => java.util.Base64.getDecoder.decode(x.asText())))
      }
    }.toOption)

  /** One data-file row bound for a manifest: typed partition tuple plus
    * per-column bounds keyed by FIELD ID text (the reader's object-form
    * lower_bounds/upper_bounds). */
  private case class ManifestEntry(path: String, size: Long, records: Long,
      tuple: Seq[Any],
      lower: Map[String, Array[Byte]] = Map.empty,
      upper: Map[String, Array[Byte]] = Map.empty)

  /** One manifest Avro at `metadata/<uuid>-m0.avro`, written
    * driver-locally by [[IcebergManifestCodec]]: typed rows (the
    * partition struct carries real logical types, so the reader's
    * per-file pruning casts exactly; per-column bounds ride as id-keyed
    * maps the reader's stats pruning range-tests). Returns (storedPath,
    * length, per-field summaries for the manifest list). */
  private def writeManifest(spark: SparkSession, f: FileSystem, table: String,
      snapshotId: Long, rows: Seq[ManifestEntry],
      partFields: Seq[StructField],
      content: Int = 0): (String, Long, Seq[FieldSummary]) = {
    val path = new Path(s"${table.stripSuffix("/")}/metadata/${java.util.UUID.randomUUID()}-m0.avro")
    val bounds = MapType(StringType, BinaryType)
    val dataFile = StructType(Seq(
      StructField("file_path", StringType),
      StructField("file_format", StringType, nullable = false),
      StructField("content", IntegerType, nullable = false),
      StructField("record_count", LongType), StructField("file_size_in_bytes", LongType),
      StructField("lower_bounds", bounds), StructField("upper_bounds", bounds)) ++
      (if (partFields.isEmpty) Nil
       else Seq(StructField("partition",
         StructType(partFields.map(pf => StructField(pf.name, pf.dataType))), nullable = false))))
    val schema = StructType(Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("sequence_number", LongType),
      StructField("data_file", dataFile, nullable = false)))
    val avroRows = rows.map { e =>
      Row(1, snapshotId, null, Row.fromSeq(
        Seq[Any](e.path, "PARQUET", content, e.records, e.size, e.lower, e.upper) ++
          (if (partFields.isEmpty) Nil else Seq(Row.fromSeq(e.tuple)))))
    }
    val len = IcebergManifestCodec.write(path, spark.sparkContext.hadoopConfiguration,
      schema, avroRows)
    (storedPath(f.makeQualified(path)), len, summarize(rows, partFields))
  }

  /** The snapshot's manifest-list Avro at
    * `metadata/snap-<id>-<uuid>.avro`, written driver-locally by
    * [[IcebergManifestCodec]]; `manifests` rows are (path, length,
    * sequenceNumber, specId, isDelete, field summaries) — retained
    * manifests keep their ORIGINAL sequence numbers and summaries. The
    * `partitions` summaries let the reader skip whole manifests unread,
    * so a long append history filters without touching most of its
    * manifest Avros. Returns the stored path. */
  private def writeManifestList(spark: SparkSession, f: FileSystem, table: String,
      snapshotId: Long,
      manifests: Seq[(String, Long, Long, Int, Boolean, Option[Seq[FieldSummary]])]): String = {
    val path = new Path(
      s"${table.stripSuffix("/")}/metadata/snap-$snapshotId-${java.util.UUID.randomUUID()}.avro")
    val sumType = ArrayType(StructType(Seq(
      StructField("contains_null", BooleanType),
      StructField("lower_bound", BinaryType),
      StructField("upper_bound", BinaryType))))
    val schema = StructType(Seq(
      StructField("manifest_path", StringType), StructField("manifest_length", LongType),
      StructField("sequence_number", LongType), StructField("partition_spec_id", IntegerType),
      StructField("content", IntegerType), StructField("added_snapshot_id", LongType),
      StructField("partitions", sumType)))
    val rows = manifests.map { case (p, len, seq, specId, isDelete, sums) =>
      Row(p, len, seq, specId, if (isDelete) 1 else 0, snapshotId,
        sums.map(_.map(fs => Row(fs.containsNull, fs.lower.orNull, fs.upper.orNull))).orNull)
    }
    IcebergManifestCodec.write(path, spark.sparkContext.hadoopConfiguration, schema, rows)
    storedPath(f.makeQualified(path))
  }

  /** The Iceberg spec stores timestamps as INT64 micros in parquet data
    * files; Spark's default outputTimestampType is the non-spec INT96
    * (whose footer stats parquet-mr refuses to use, killing bounds
    * too). A per-write option cannot carry this key — ParquetFileFormat
    * re-stamps it into the job conf from the session SQLConf — so
    * staging runs under a scoped SESSION override on the frame's OWN
    * session (the one that executes the write), serialized through a
    * writer-global lock so concurrent graft writers can neither stage
    * INT96 nor leak the override through interleaved restores. Other
    * threads' unrelated parquet writes inside the window stage micros
    * too — a readable, spec-preferred layout, not a corruption. */
  private val microsLock = new Object
  private def withMicrosTimestamps[T](session: SparkSession)(body: => T): T =
    microsLock.synchronized {
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = session.conf.get(key)
      session.conf.set(key, "TIMESTAMP_MICROS")
      try body finally session.conf.set(key, prev)
    }

  /** Staging-only duplicate-column prefix: `partitionBy` consumes the
    * duplicates (directory layout), the real columns stay in the data
    * files. */
  private val DupPrefix = "__graft_p_"

  /** Writer-profile partition transforms (round 12 grows the set from
    * identity/bucket to the spec's truncate[W] and temporal family,
    * all recomputed by the same [[IcebergTransforms]] ordinals the
    * reader's pruning applies). */
  private[readers] sealed trait PTf
  private[readers] case object PIdentity extends PTf
  private[readers] final case class PBucket(n: Int) extends PTf
  private[readers] final case class PTruncate(w: Int) extends PTf
  private[readers] final case class PTemporal(kind: String) extends PTf

  private val BucketTokenRe = "bucket\\(\\s*(\\d+)\\s*,\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
  private val TruncateTokenRe = "truncate\\(\\s*(\\d+)\\s*,\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
  private val TemporalTokenRe = "(year|month|day|hour)\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)".r
  private[readers] val BucketTfRe = IcebergTransforms.BucketRe
  private val TruncateTfRe = "truncate\\[(\\d+)\\]".r
  /** partitionBy token → (source column, transform): a bare name is
    * identity; `bucket(N, col)`, `truncate(W, col)`,
    * `year|month|day|hour(col)` the spec transforms. */
  private def parsePartToken(t: String): (String, PTf) = t.trim match {
    case BucketTokenRe(n, c) =>
      val parsed = n.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"iceberg writer: bucket count '$n' in '$t' is not a 32-bit integer"))
      require(parsed >= 1, s"iceberg writer: bucket count must be >= 1 (got '$t')")
      (c, PBucket(parsed))
    case TruncateTokenRe(w, c) =>
      val parsed = w.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"iceberg writer: truncate width '$w' in '$t' is not a 32-bit integer"))
      require(parsed >= 1, s"iceberg writer: truncate width must be >= 1 (got '$t')")
      (c, PTruncate(parsed))
    case TemporalTokenRe(k, c) => (c, PTemporal(k))
    case c                     => (c, PIdentity)
  }
  private def renderPartToken(t: (String, PTf)): String = t._2 match {
    case PIdentity    => t._1
    case PBucket(n)   => s"bucket($n, ${t._1})"
    case PTruncate(w) => s"truncate($w, ${t._1})"
    case PTemporal(k) => s"$k(${t._1})"
  }

  /** The spec's bucket[n] ordinal as a Column — murmur3 per
    * [[IcebergTransforms]] (the one UDF exception, shared stance with
    * the reader's delete-scoping path; a Column expression cannot
    * express the spec's byte-level hash). Null sources bucket to null
    * (the null partition). */
  private def bucketColumn(src: org.apache.spark.sql.Column, dt: DataType, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{datediff, lit, udf}
    val longBucket = udf((x: java.lang.Long) =>
      if (x == null) null.asInstanceOf[java.lang.Integer]
      else java.lang.Integer.valueOf(IcebergTransforms.bucketOf(x.longValue(), n).getOrElse(-1)))
    dt match {
      case StringType =>
        val u = udf((x: String) =>
          if (x == null) null.asInstanceOf[java.lang.Integer]
          else java.lang.Integer.valueOf(IcebergTransforms.bucketOf(x, n).getOrElse(-1)))
        u(src)
      case DateType => longBucket(datediff(src, lit("1970-01-01")).cast("long"))
      case _        => longBucket(src.cast("long")) // int, long
    }
  }

  /** The spec's truncate[w] ordinal as a Column: integers floor to the
    * nearest multiple of w (pure Column arithmetic, codegen'd); strings
    * truncate to w UNICODE CODE POINTS via [[IcebergTransforms]] (the
    * UDF exception shared with bucket — substring() counts UTF-16
    * units, which over-truncates astral-plane text). */
  private def truncateColumn(src: org.apache.spark.sql.Column, dt: DataType, w: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.udf
    dt match {
      case IntegerType | LongType =>
        (src - (((src % w) + w) % w)).cast(dt)
      case StringType =>
        val u = udf((s: String) =>
          if (s == null) null
          else IcebergTransforms.truncateOf(s, w).map(_.asInstanceOf[String]).orNull)
        u(src)
      case other => throw new IllegalArgumentException(
        s"iceberg writer: truncate[$w] over ${other.simpleString}")
    }
  }

  /** The spec's year/month/day/hour ordinal as a Column, through the
    * same [[IcebergTransforms.temporalOf]] the reader's pruning
    * recomputes — writer and pruner cannot drift. Ordinals stage as
    * INT (days/months/years/hours since the epoch); nulls map to the
    * null partition. */
  private def temporalColumn(src: org.apache.spark.sql.Column, dt: DataType, kind: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.udf
    def boxed(v: Option[Long]): java.lang.Integer =
      v.map(x => java.lang.Integer.valueOf(x.toInt)).orNull
    dt match {
      case DateType =>
        val u = udf((d: java.sql.Date) =>
          if (d == null) null.asInstanceOf[java.lang.Integer]
          else boxed(IcebergTransforms.temporalOf(d.toLocalDate.toEpochDay, "date", kind)))
        u(src)
      case TimestampType =>
        val u = udf((t: java.sql.Timestamp) =>
          if (t == null) null.asInstanceOf[java.lang.Integer]
          else boxed(IcebergTransforms.temporalOf(t.getTime * 1000L, "timestamptz", kind)))
        u(src)
      case TimestampNTZType =>
        val u = udf((t: java.time.LocalDateTime) =>
          if (t == null) null.asInstanceOf[java.lang.Integer]
          else boxed(IcebergTransforms.temporalOf(
            t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L,
            "timestamp", kind)))
        u(src)
      case other => throw new IllegalArgumentException(
        s"iceberg writer: $kind() over ${other.simpleString}")
    }
  }

  /** `__graft_p_c=7/part-….parquet` → Map(c -> "7") with Spark's
    * directory escaping decoded (a __HIVE_DEFAULT_PARTITION__ segment
    * is a null value). */
  private def partitionDirValues(rel: String): Map[String, String] =
    rel.split("/").dropRight(1).filter(_.contains("=")).map { seg =>
      val k = seg.takeWhile(_ != '=')
      val raw = seg.drop(k.length + 1)
      val v = PathKeys.percentDecode(raw)
      (if (k.startsWith(DupPrefix)) k.drop(DupPrefix.length) else k) ->
        (if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
    }.toMap

  private def typedPartitionValue(text: String, dt: DataType): Any =
    if (text == null) null
    else dt match {
      case IntegerType => text.toInt
      case LongType    => text.toLong
      case DateType    => java.sql.Date.valueOf(text)
      case _           => text
    }

  /** Inverse of [[icebergType]] for the writer-profile primitives
    * (drives typed partition tuples when the schema comes from the
    * table's own metadata rather than a caller frame). */
  private def sparkTypeOf(t: String): DataType = t match {
    case "boolean"     => BooleanType
    case "int"         => IntegerType
    case "long"        => LongType
    case "float"       => FloatType
    case "double"      => DoubleType
    case "date"        => DateType
    case "string"      => StringType
    case "binary"      => BinaryType
    case "timestamptz" => TimestampType
    case "timestamp"   => TimestampNTZType
    case d if d.startsWith("decimal") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalArgumentException(
      s"iceberg writer: table schema type '$other' outside the writer profile")
  }

  private case class LiveEntry(path: String, size: Long, records: Long, pvJson: String,
      lowerJson: String = null, upperJson: String = null)

  private def toManifestEntry(e: LiveEntry, partFields: Seq[StructField]): ManifestEntry =
    ManifestEntry(e.path, e.size, e.records, typedTupleOf(e.pvJson, partFields),
      boundsFromJson(e.lowerJson), boundsFromJson(e.upperJson))

  /** Canonical scan-key column attached by the rewrite scans (joins
    * against `PathKeys.driverKey` of the manifests' absolute paths). */
  private val FileCol = "__graft_file"

  /** Stage `df` (the table's current schema order) through the
    * ordinary distributed partitioned write — transform columns
    * recomputed, field ids attached at every level — and move the
    * staged parquet into `data/`, returning the new [[ManifestEntry]]
    * rows with footer stats and typed partition tuples. Shared by the
    * row-level DELETE/MERGE rewrites. */
  private def stageRewrite(spark: SparkSession, f: FileSystem, table: String,
      df: DataFrame, fieldNodes: Seq[JsonNode],
      partDefs: Seq[(String, String, PTf, DataType)]): Seq[ManifestEntry] = {
    val partCols = partDefs.map(_._1)
    val partFields = partDefs.map(d => StructField(d._1, d._4))
    val statFields: Seq[(String, DataType, Int)] = fieldNodes.map(n =>
      (n.get("name").asText(), sparkTypeOfNode(n.get("type")), n.get("id").asInt()))
    // the write() path's '' round-trip gate applies to REWRITES too: a
    // merge update could otherwise introduce '' into an identity/
    // truncate string partition source, staging a null tuple that
    // mislabels the rows (ingestion-time rows are already gated, so
    // this fires only on rewritten values)
    val emptyable = partDefs.filter(d =>
      (d._3 == PIdentity || d._3.isInstanceOf[PTruncate]) &&
        statFields.find(_._1 == d._2).exists(_._2 == StringType)).map(_._2)
    if (emptyable.nonEmpty) {
      val pred = emptyable.map(c => s"`$c` = ''").mkString(" OR ")
      require(df.where(pred).limit(1).count() == 0,
        s"iceberg rewrite: empty-string value(s) in string identity/truncate partition " +
          s"column(s) [${emptyable.mkString(",")}] — '' does not survive the " +
          "directory-text round trip; filter/replace the empty values")
    }
    // required (NOT NULL) columns gate REWRITTEN rows too — a merge
    // post-image nulling a required column must refuse exactly like an
    // append (same in-scan gate, zero extra passes)
    val requiredCols = fieldNodes.filter(n =>
      Option(n.get("required")).exists(_.asBoolean())).map(_.get("name").asText())
    val dfGated = withNotNullGate(df, requiredCols, table, "rewrite")
    val withIds = dfGated.select(fieldNodes.map { n =>
      val nm = n.get("name").asText()
      val dt = sparkTypeOfNode(n.get("type"))
      val attached = attachIds(dt, n.get("type"))
      val base = if (attached == dt) dfGated(nm) else dfGated(nm).cast(attached)
      base.as(nm,
        new MetadataBuilder().putLong("parquet.field.id", n.get("id").asLong()).build())
    }.toSeq: _*)
    val stagedDf = partDefs.foldLeft(withIds) { case (d, (fieldName, srcCol, tf, _)) =>
      val srcDt = statFields.find(_._1 == srcCol).get._2
      val value = tf match {
        case PBucket(n)   => bucketColumn(d(srcCol), srcDt, n)
        case PTruncate(w) => truncateColumn(d(srcCol), srcDt, w)
        case PTemporal(k) => temporalColumn(d(srcCol), srcDt, k)
        case PIdentity    => d(srcCol)
      }
      d.withColumn(DupPrefix + fieldName, value)
    }
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    try {
      val stWriter = stagedDf.write.mode("overwrite")
      rethrowGate(withMicrosTimestamps(stagedDf.sparkSession) {
        (if (partCols.nonEmpty) stWriter.partitionBy(partCols.map(DupPrefix + _): _*)
         else stWriter).parquet(staging.toString)
      })
      val stagingQ = f.makeQualified(staging).toString
      val stagedFiles: Seq[(org.apache.hadoop.fs.FileStatus, String)] = {
        val it = f.listFiles(staging, true)
        val out = Seq.newBuilder[(org.apache.hadoop.fs.FileStatus, String)]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet"))
            out += ((st, f.makeQualified(st.getPath).toString.stripPrefix(stagingQ + "/")))
        }
        out.result()
      }
      val dataDir = new Path(table.stripSuffix("/") + "/data")
      f.mkdirs(dataDir)
      stagedFiles.map { case (st, rel) =>
        val tuple = partitionDirValues(rel)
        require(partCols.forall(tuple.contains),
          s"iceberg rewrite: staged file $rel missing partition segments for " +
            s"[${partCols.filterNot(tuple.contains).mkString(",")}]")
        val destDir = partCols.foldLeft(dataDir)((d, c) => new Path(d,
          s"$c=${rel.split("/").find(_.startsWith(s"$DupPrefix$c=")).get.drop(DupPrefix.length + c.length + 1)}"))
        f.mkdirs(destDir)
        val dest = new Path(destDir, st.getPath.getName)
        require(f.rename(st.getPath, dest), s"iceberg rewrite: rename to $dest failed")
        val d = f.getFileStatus(dest)
        val fs = footerStats(f, d.getPath, statFields)
        ManifestEntry(storedPath(d.getPath), d.getLen, fs.records,
          partFields.map(pf => typedPartitionValue(tuple(pf.name), pf.dataType)),
          fs.lower, fs.upper)
      }
    } finally scala.util.Try(f.delete(staging, true))
  }

  /** Shared commit tail of the row-level rewrites: per optimistic
    * attempt the head re-resolves, and metadata drift, a vanished
    * touched file, or ANY concurrent add refuses (rows the rewrite's
    * plan never scanned cannot be silently missed — the Delta twin's
    * ConcurrentAppendException stance). `summary.operation` reflects
    * the shape: overwrite (rewrite + adds), delete (pure file drops),
    * append (inserts only / txn-marker no-op). */
  private def commitRewrite(spark: SparkSession, f: FileSystem, table: String,
      op: String, schemaIdAtScan: Int, snapshot: Seq[LiveEntry], touched: Seq[LiveEntry],
      newEntries: Seq[ManifestEntry], partFields: Seq[StructField],
      txnProps: Map[String, String], maxRetries: Int): Unit = {
    val snapKeys = snapshot.map(_.path).toSet
    val touchedPaths = touched.map(_.path).toSet
    val operation =
      if (touched.nonEmpty && newEntries.nonEmpty) "overwrite"
      else if (touched.nonEmpty) "delete"
      else "append"
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, op)
      require(Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0) == schemaIdAtScan &&
          Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0) == 0,
        s"iceberg $op: the schema of $table changed under this rewrite (a concurrent " +
          "evolution landed); re-run against the new schema")
      val nowLive = liveEntries(spark, meta, table)
      val gone = touchedPaths -- nowLive.map(_.path).toSet
      require(gone.isEmpty,
        s"iceberg $op: file(s) ${gone.take(3).mkString(", ")} were removed by a concurrent " +
          "writer during the rewrite — committing would resurrect/duplicate rows; re-run")
      val added = (nowLive.map(_.path).toSet -- snapKeys).toSeq.sorted
      require(added.isEmpty,
        s"iceberg $op: concurrent write added file(s) ${added.take(3).mkString(", ")} whose " +
          "rows this rewrite never scanned — committing would miss them; re-run")
      val kept = nowLive.filterNot(e => touchedPaths.contains(e.path))
      val entries = kept.map(toManifestEntry(_, partFields)) ++ newEntries
      if (publishSnapshot(spark, f, table, meta, metaV, operation, entries, partFields, txnProps))
        return
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg $op: lost the commit race $maxRetries times at $table — giving up")
    }
  }

  /** DELETE WHERE with data-column predicates (round 12, the Delta
    * writer's twin) — copy-on-write per touched file: one detection
    * scan (predicate pushed to parquet) aggregates the matched count
    * plus distinct file keys, survivors (predicate FALSE or NULL — SQL
    * delete semantics) rewrite through a second scan over only the
    * touched files, and one snapshot publishes the change. Files with
    * no matching row are never rewritten. Returns the deleted row
    * count; a no-match delete publishes NO snapshot.
    *
    * `mode = "merge-on-read"` (iceberg's `write.delete.mode`) commits
    * a parquet POSITION-DELETE file instead of rewriting anything: one
    * snapshot retains every existing manifest and appends one delete
    * manifest — a point delete in a 1 GB file is O(matched rows). The
    * native reader (and iceberg-spark) applies the deletes at read.
    * Repeated MoR deletes stack delete files (already-deleted rows
    * are excluded from detection, so counts stay exact);
    * [[materializeDeletes]] folds them back into clean data files —
    * which the other rewrite ops require. */
  def deleteWhere(spark: SparkSession, table: String, predicate: String,
      maxRetries: Int = 10, mode: String = "copy-on-write"): Long = {
    import org.apache.spark.sql.functions.{col, collect_set, count, expr, lit}
    require(Set("copy-on-write", "merge-on-read").contains(mode),
      s"iceberg delete: unknown mode '$mode' (copy-on-write | merge-on-read)")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta0 = ownedMeta(spark, table, "delete")
    val fieldNodes = currentSchemaFieldNodes(meta0)
    val schema = StructType(fieldNodes.map(n =>
      StructField(n.get("name").asText(), sparkTypeOfNode(n.get("type")))).toArray)
    val conjs = FileSkipping.conjuncts(predicate)
    require(conjs.nonEmpty && conjs.map(FileSkipping.usableRefs).forall(_.isDefined),
      s"iceberg delete: predicate '$predicate' has conjunct(s) this writer cannot analyze " +
        "(qualified/nested references, subqueries or nondeterministic functions); " +
        "use bare column names and deterministic expressions")
    if (mode == "merge-on-read")
      return deleteWhereMor(spark, f, table, meta0, fieldNodes, schema,
        predicate, conjs, maxRetries)
    val live0 = liveEntries(spark, meta0, table)
    if (live0.isEmpty) return 0L
    val candidates = pruneDetection(spark, meta0, fieldNodes, live0, conjs)
    if (candidates.isEmpty) return 0L
    def scanOf(entries: Seq[LiveEntry]): DataFrame =
      idScan(spark, meta0, entries.map(_.path))
        .withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
    val agg = scanOf(candidates).where(expr(predicate))
      .agg(count(lit(1)).as("n"), collect_set(col(FileCol)).as("files")).collect()(0)
    val deleted = agg.getLong(0)
    if (deleted == 0L) return 0L
    val touchedKeys = agg.getSeq[String](1).toSet
    val touched = candidates.filter(e => touchedKeys.contains(PathKeys.driverKey(e.path, f)))
    val survivors = scanOf(touched)
      .where(s"NOT ($predicate) OR ($predicate) IS NULL").drop(FileCol)
    val partDefs = tablePartDefs(meta0)
    val newEntries = stageRewrite(spark, f, table, survivors, fieldNodes, partDefs)
    commitRewrite(spark, f, table, "delete",
      Option(meta0.get("current-schema-id")).map(_.asInt()).getOrElse(0),
      live0, touched, newEntries, partDefs.map(d => StructField(d._1, d._4)),
      Map.empty, maxRetries)
    deleted
  }

  /** Row-index metadata column for the merge-on-read scans. */
  private val RowIdxCol = "__graft_row_idx"

  /** Driver-side cap on (file, position) pairs for the merge-on-read
    * paths — past it, point deletes are the wrong tool. */
  private val MorMaxCollectRows = 2000000

  /** Merge-on-read DELETE: stage ONE sorted parquet position-delete
    * file (`file_path` raw manifest paths, `pos` row indexes) for the
    * freshly matched rows and publish a snapshot that RETAINS every
    * existing manifest verbatim plus one delete manifest (content=1,
    * the new snapshot's sequence number) — no data file is rewritten.
    * The reader applies deletes by path+pos (its documented keying),
    * and seq-ordered engines agree (every data seq < the delete's).
    * Existing delete files load driver-side (bounded) to exclude
    * already-deleted rows from detection — repeat deletes stay exact. */
  private def deleteWhereMor(spark: SparkSession, f: FileSystem, table: String,
      meta0: JsonNode, fieldNodes: Seq[JsonNode], schema: StructType,
      predicate: String,
      conjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      maxRetries: Int): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    import scala.jdk.CollectionConverters._
    val (data0, del0) = liveEntriesAll(spark, meta0, table)
    if (data0.isEmpty) return 0L
    val candidates = pruneDetection(spark, meta0, fieldNodes, data0, conjs)
    if (candidates.isEmpty) return 0L
    val byKey = candidates.map(e => PathKeys.driverKey(e.path, f) -> e).toMap
    val existingPairs: Set[(String, Long)] =
      if (del0.isEmpty) Set.empty
      else {
        val rows = spark.read.parquet(del0.map(_.path): _*)
          .select("file_path", "pos").limit(MorMaxCollectRows + 1).collect()
        require(rows.length <= MorMaxCollectRows,
          s"iceberg delete: over $MorMaxCollectRows accumulated position-delete rows — " +
            "run IcebergWriter.materializeDeletes first")
        rows.iterator.map(r => PathKeys.driverKey(r.getString(0), f) -> r.getLong(1))
          .filter(t => byKey.contains(t._1)).toSet
      }
    val matched = idScan(spark, meta0, candidates.map(_.path))
      .withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
      .withColumn(RowIdxCol, col("_metadata.row_index"))
      .where(expr(predicate)).select(col(FileCol), col(RowIdxCol))
      .limit(MorMaxCollectRows + 1).collect()
    require(matched.length <= MorMaxCollectRows,
      s"iceberg delete: over $MorMaxCollectRows matched rows — merge-on-read is for " +
        "point/small deletes; use mode=copy-on-write")
    val fresh = matched.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq
      .distinct.filterNot(existingPairs.contains)
    if (fresh.isEmpty) return 0L
    // the delete file references the RAW manifest path strings
    val delRows: Seq[(String, Long)] =
      fresh.map { case (k, pos) => (byKey(k).path, pos) }.sorted
    val (delPath, delSize) = stageDeleteFile(spark, f, table, delRows)
    val schemaIdAtScan = Option(meta0.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    var attempt = 0
      while (true) {
        val (meta, metaV) = ownedMetaV(spark, table, "delete")
        require(Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0) == schemaIdAtScan &&
            Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0) == 0,
          s"iceberg delete: the schema of $table changed under this delete; re-run")
        val (dataNow, delNow) = liveEntriesAll(spark, meta, table)
        require(dataNow.map(_.path).toSet == data0.map(_.path).toSet,
          s"iceberg delete: a concurrent write changed the live data set of $table " +
            "under this delete (its rows were never probed); re-run")
        require(delNow.map(_.path).toSet == del0.map(_.path).toSet,
          s"iceberg delete: a concurrent row-level write landed at $table under this " +
            "delete; re-run")
        val curId = meta.get("current-snapshot-id").asLong()
        val snap = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
          .find(_.get("snapshot-id").asLong() == curId).get
        val retained = IcebergReader.manifestListRowsOf(spark,
            snap.get("manifest-list").asText(), table)
          .map { case (p, sq, specId, isDel, pj) =>
            (p, 0L, sq, specId, isDel, summariesFromJson(pj)) }
        val ok = publishSnapshotRows(spark, f, table, meta, metaV, "delete", Map.empty,
          (snapshotId, seq) => {
            val dm = writeManifest(spark, f, table, snapshotId,
              Seq(ManifestEntry(delPath, delSize, delRows.size.toLong, Nil)),
              Nil, content = 1)
            (dm._1, dm._2, seq, 0, true, None) +: retained
          })
        if (ok) return fresh.size.toLong
        attempt += 1
        require(attempt <= maxRetries,
          s"iceberg delete: lost the commit race $maxRetries times at $table — giving up")
      }
      throw new IllegalStateException("unreachable")
  }

  /** Stage one sorted parquet position-delete file under `data/` —
    * returns its (stored path, size). */
  private def stageDeleteFile(spark: SparkSession, f: FileSystem, table: String,
      delRows: Seq[(String, Long)]): (String, Long) = {
    val staging = new Path(table.stripSuffix("/") + s"/_staging_del_${java.util.UUID.randomUUID()}")
    val dest = new Path(table.stripSuffix("/") + "/data",
      s"delete-${java.util.UUID.randomUUID()}.parquet")
    try {
      import spark.implicits._
      delRows.toDF("file_path", "pos").coalesce(1)
        .sortWithinPartitions("file_path", "pos").write.parquet(staging.toString)
      val part = f.listStatus(staging)
        .find(_.getPath.getName.endsWith(".parquet")).getOrElse(
          throw new IllegalStateException("iceberg: no staged delete part file"))
      Option(dest.getParent).foreach(f.mkdirs(_))
      require(f.rename(part.getPath, dest),
        s"iceberg: rename ${part.getPath} -> $dest failed")
      (storedPath(f.makeQualified(dest)), f.getFileStatus(dest).getLen)
    } finally scala.util.Try(f.delete(staging, true))
  }

  /** Fold accumulated position deletes back into clean data files: the
    * data files any delete references rewrite WITHOUT their deleted
    * rows (one distributed anti-join on (file, row-index) — no driver
    * row funnel), untouched files keep their entries, and the new
    * snapshot carries NO delete manifests — restoring the full rewrite
    * surface (merge/compact/copy-on-write delete refuse while delete
    * files exist). Returns (data files rewritten, delete files
    * dropped). */
  def materializeDeletes(spark: SparkSession, table: String,
      maxRetries: Int = 10): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col, udf}
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta0 = ownedMeta(spark, table, "materializeDeletes")
    val fieldNodes = currentSchemaFieldNodes(meta0)
    val schema = StructType(fieldNodes.map(n =>
      StructField(n.get("name").asText(), sparkTypeOfNode(n.get("type")))).toArray)
    val (data0, del0) = liveEntriesAll(spark, meta0, table)
    if (del0.isEmpty) return (0, 0)
    require(data0.nonEmpty, s"iceberg: $table has delete files but no data files")
    // which data files do the deletes reference? (small distinct set)
    val refPaths = spark.read.parquet(del0.map(_.path): _*)
      .select("file_path").distinct().collect().map(_.getString(0))
      .map(PathKeys.driverKey(_, f)).toSet
    val byKey = data0.map(e => PathKeys.driverKey(e.path, f) -> e).toMap
    val touched = data0.filter(e => refPaths.contains(PathKeys.driverKey(e.path, f)))
    // survivors: one distributed anti-join against the delete pairs,
    // both sides keyed identically (encode raw paths like the reader)
    val encPath = udf((p: String) => new Path(p).toUri.toString)
    val delPairs = spark.read.parquet(del0.map(_.path): _*)
      .select(PathKeys.scanKey(encPath(col("file_path"))).as(FileCol),
        col("pos").as(RowIdxCol))
    val survivors = idScan(spark, meta0, touched.map(_.path))
      .withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
      .withColumn(RowIdxCol, col("_metadata.row_index"))
      .join(broadcast(delPairs), Seq(FileCol, RowIdxCol), "left_anti")
      .drop(FileCol, RowIdxCol)
    val partDefs = tablePartDefs(meta0)
    val newEntries = stageRewrite(spark, f, table, survivors, fieldNodes, partDefs)
    val partFields = partDefs.map(d => StructField(d._1, d._4))
    val schemaIdAtScan = Option(meta0.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, "materializeDeletes")
      require(Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0) == schemaIdAtScan &&
          Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0) == 0,
        s"iceberg materializeDeletes: the schema of $table changed under this rewrite; re-run")
      val (dataNow, delNow) = liveEntriesAll(spark, meta, table)
      require(dataNow.map(_.path).toSet == data0.map(_.path).toSet &&
          delNow.map(_.path).toSet == del0.map(_.path).toSet,
        s"iceberg materializeDeletes: a concurrent write changed $table under this " +
          "rewrite; re-run")
      val kept = dataNow.filterNot(e => refPaths.contains(PathKeys.driverKey(e.path, f)))
      val entries = kept.map(toManifestEntry(_, partFields)) ++ newEntries
      // publishSnapshot writes a FRESH single-manifest list: the delete
      // manifests vanish with this snapshot (old snapshots keep them
      // until expireSnapshots)
      if (publishSnapshot(spark, f, table, meta, metaV, "replace", entries, partFields,
          Map.empty))
        return (touched.size, del0.size)
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg materializeDeletes: lost the commit race $maxRetries times at $table — " +
          "giving up")
    }
    throw new IllegalStateException("unreachable")
  }

  /** MERGE (upsert) by key (round 12, the Delta writer's twin):
    * matched target rows update from the source (every column) or
    * drop; unmatched source rows insert; NULL-key source rows never
    * match (SQL equality) and insert. Delegates to [[mergeClauses]]
    * (the full builder surface: conditional clauses, partial-column
    * set expressions, `whenNotMatchedBySource`). */
  def merge(spark: SparkSession, source: DataFrame, table: String, on: Seq[String],
      whenMatched: String = "update", insertNotMatched: Boolean = true,
      txn: Option[(String, Long)] = None, maxRetries: Int = 10): Unit = {
    require(Set("update", "delete").contains(whenMatched),
      s"iceberg merge: unknown whenMatched '$whenMatched' (update | delete)")
    mergeClauses(spark, source, table, on,
      Seq(MergeClause("matched", whenMatched)) ++
        (if (insertNotMatched) Seq(MergeClause("notMatched", "insert")) else Nil),
      txn, maxRetries)
  }

  /** MERGE with the full builder surface as data clauses
    * ([[MergeClause]]), the Delta writer's [[DeltaWriter.mergeClauses]]
    * twin: conditional `whenMatched` update/delete with partial-column
    * set expressions (`t.`/`s.` qualification), conditional
    * `whenNotMatched` insert, `whenNotMatchedBySource` update/delete —
    * copy-on-write per touched file, ONE snapshot. Per kind, the FIRST
    * clause whose condition holds applies; no-clause rows survive
    * unchanged (or don't insert). Duplicate non-null source keys
    * refuse up front. Matched detection is a semi-join against the
    * distinct source keys over the key-bound pre-pruned live set;
    * bySource detection is an anti-join + condition filter (conjunct
    * pre-pruned when analyzable). `txn` stamps the snapshot summary
    * for the streaming upsert sink's replay probe (a provably-no-op
    * merge with a txn still publishes the marker). */
  def mergeClauses(spark: SparkSession, source: DataFrame, table: String,
      on: Seq[String], clauses: Seq[MergeClause],
      txn: Option[(String, Long)] = None, maxRetries: Int = 10,
      mode: String = "copy-on-write"): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_set, expr, lit, udf}
    require(on.nonEmpty, "iceberg merge: at least one key column required")
    require(Set("copy-on-write", "merge-on-read").contains(mode),
      s"iceberg merge: unknown mode '$mode' (copy-on-write | merge-on-read)")
    // merge-on-read (iceberg's write.merge.mode): applied target rows
    // become POSITION-DELETE entries on their own files, only update
    // post-images + inserts land in new data files, and one snapshot
    // retains every existing manifest plus a delete manifest and a data
    // manifest — an upsert touching k rows of a 1 GB file costs O(k).
    // Works on delete-carrying tables (existing deletes mask the scans
    // distributedly); copy-on-write refuses those until
    // materializeDeletes.
    val morOn = mode == "merge-on-read"
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta0 = ownedMeta(spark, table, "merge")
    val fieldNodes = currentSchemaFieldNodes(meta0)
    val schema = StructType(fieldNodes.map(n =>
      StructField(n.get("name").asText(), sparkTypeOfNode(n.get("type")))).toArray)
    MergeClauses.validate(clauses, schema, "iceberg")
    val onT: Seq[String] = on.map(k =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(throw new IllegalArgumentException(
        s"iceberg merge: key column '$k' not in the table schema (${schema.fieldNames.mkString(",")})")))
    onT.foreach(k => require(source.schema.fieldNames.exists(_.equalsIgnoreCase(k)),
      s"iceberg merge: key column '$k' not in the source frame (${source.schema.fieldNames.mkString(",")})"))
    if (MergeClauses.needsFullSchema(clauses)) {
      val same = schema.fields.length == source.schema.fields.length &&
        schema.fields.zip(source.schema.fields).forall { case (a, b) =>
          a.name.equalsIgnoreCase(b.name) && sameShape(a.dataType, b.dataType)
        }
      require(same,
        s"iceberg merge: source schema must match the table — table has " +
          s"${schema.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}, " +
          s"source has ${source.schema.map(fl => s"${fl.name}:${fl.dataType.simpleString}").mkString(",")}")
    } else onT.foreach { k =>
      val tt = schema(k).dataType
      val st = source.schema(source.schema.fieldNames.find(_.equalsIgnoreCase(k)).get).dataType
      require(sameShape(tt, st), s"iceberg merge: key column '$k' is ${tt.simpleString} in " +
        s"the table but ${st.simpleString} in the source")
    }
    // one persist bounds the source plan to a single evaluation across
    // its four consumers (dup-key gate, distinct keys, update join,
    // insert anti-join), released after the commit — the Delta twin's
    // stance. Spark's cache is not refcounted: a source the caller
    // already cached is used as-is and never unpersisted here.
    val srcPersistedHere =
      source.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val src = if (srcPersistedHere) source.persist() else source
    val tScans = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val keyNonNull = onT.map(src(_).isNotNull).reduce(_ && _)
      val dupKeys = src.where(keyNonNull).groupBy(onT.map(src(_)): _*)
        .count().where(col("count") > 1).limit(1).count()
      require(dupKeys == 0L,
        s"iceberg merge: the source has duplicate values for key [${onT.mkString(",")}] — " +
          "a target row matching several source rows is nondeterministic; de-duplicate first")
      val srcKeys = src.where(keyNonNull).select(onT.map(src(_)): _*).distinct()
      val (live0, del0) =
        if (morOn) liveEntriesAll(spark, meta0, table)
        else (liveEntries(spark, meta0, table), Nil)
      val matchedOn = clauses.exists(_.kind == "matched")
      val bySourceCs = clauses.filter(_.kind == "notMatchedBySource")
      val insertOn = clauses.exists(_.kind == "notMatched")
      val encPathU = udf((p: String) => new Path(p).toUri.toString)
      lazy val delPairsDf = spark.read.parquet(del0.map(_.path): _*)
        .select(PathKeys.scanKey(encPathU(col("file_path"))).as(FileCol),
          col("pos").as(RowIdxCol))
      def scanOf(entries: Seq[LiveEntry]): DataFrame = {
        val base = idScan(spark, meta0, entries.map(_.path))
          .withColumn(FileCol, PathKeys.scanKey(col("_metadata.file_path")))
        if (!morOn) base
        else {
          // MoR scans carry the row index (vector positions) and mask
          // rows existing position deletes already removed
          val withIdx = base.withColumn(RowIdxCol, col("_metadata.row_index"))
          if (del0.isEmpty) withIdx
          else withIdx.join(broadcast(delPairsDf), Seq(FileCol, RowIdxCol), "left_anti")
        }
      }
      val (touched, out, affOpt) =
        if (live0.isEmpty) {
          val (o, _, _) = MergeClauses.assemble(None, src, srcKeys, None,
            onT, schema, clauses, withCdc = false)
          (Nil, o, None)
        } else {
          // matched detection, pre-pruned by the source keys'
          // [min,max]: a file whose bounds / identity tuple exclude
          // every source key cannot hold a matched row, so a
          // key-bounded merge into a 100 TB table opens only the
          // files its keys could live in
          val detectedFiles =
            if (!matchedOn) Nil
            else {
              val cand = pruneDetection(spark, meta0, fieldNodes, live0,
                FileSkipping.keyBoundConjuncts(srcKeys, onT, schema))
              if (cand.isEmpty) Nil
              else {
                val ks = scanOf(cand).join(srcKeys, onT, "left_semi")
                  .agg(collect_set(col(FileCol))).collect()(0).getSeq[String](0).toSet
                live0.filter(e => ks.contains(PathKeys.driverKey(e.path, f)))
              }
            }
          // bySource detection: files holding at least one UNmatched
          // row some bySource clause condition admits must rewrite; a
          // single conditioned clause pre-prunes by its conjuncts
          // (fail open — the scan re-applies the condition)
          val bsFiles =
            if (bySourceCs.isEmpty) Nil
            else {
              val cand = bySourceCs match {
                case Seq(one) if one.condition.isDefined =>
                  scala.util.Try(FileSkipping.conjuncts(one.condition.get)).toOption
                    .filter(cs => cs.nonEmpty &&
                      cs.map(FileSkipping.usableRefs).forall(_.isDefined))
                    .map(cs => pruneDetection(spark, meta0, fieldNodes, live0, cs))
                    .getOrElse(live0)
                case _ => live0
              }
              if (cand.isEmpty) Nil
              else {
                val any = bySourceCs.map(c => c.condition.map(expr).getOrElse(lit(true)))
                  .reduce(_ || _)
                val ks = scanOf(cand).as("t")
                  .join(srcKeys, onT, "left_anti").where(any)
                  .agg(collect_set(col(FileCol))).collect()(0).getSeq[String](0).toSet
                live0.filter(e => ks.contains(PathKeys.driverKey(e.path, f)))
              }
            }
          val touchedFiles = (detectedFiles ++ bsFiles).distinctBy(_.path)
          val tRows =
            if (touchedFiles.isEmpty) None
            else {
              val base = scanOf(touchedFiles)
              val s = (if (morOn) base else base.drop(FileCol)).persist()
              tScans += s
              Some(s)
            }
          // insert exclusion: target keys matching a source key can
          // only live in matched-detected files; an insert-only merge
          // resolves the key set in ONE pruned key-column scan
          val matchedKeys =
            if (!insertOn) None
            else if (matchedOn) {
              if (detectedFiles.isEmpty) None
              else tRows.map(_.select(onT.map(col): _*).distinct())
            } else {
              val cand = pruneDetection(spark, meta0, fieldNodes, live0,
                FileSkipping.keyBoundConjuncts(srcKeys, onT, schema))
              if (cand.isEmpty) None
              else Some(scanOf(cand).join(srcKeys, onT, "left_semi")
                .select(onT.map(col): _*).distinct())
            }
          val (o, _, aff) = MergeClauses.assemble(tRows, src, srcKeys, matchedKeys,
            onT, schema, clauses, withCdc = false,
            morMeta = if (morOn) Some((FileCol, RowIdxCol)) else None)
          (touchedFiles, o, aff)
        }
      val partDefs = tablePartDefs(meta0)
      val partFields = partDefs.map(d => StructField(d._1, d._4))
      val txnProps = txn.map { case (appId, v) =>
        Map("graft.txn.app-id" -> appId, "graft.txn.version" -> v.toString)
      }.getOrElse(Map.empty[String, String])
      if (!morOn) {
        if (touched.isEmpty && out.isEmpty && txn.isEmpty) return // provably a no-op
        val newEntries = out.map(o =>
          stageRewrite(spark, f, table, o, fieldNodes, partDefs)).getOrElse(Nil)
        commitRewrite(spark, f, table, "merge",
          Option(meta0.get("current-schema-id")).map(_.asInt()).getOrElse(0),
          live0, touched, newEntries, partFields, txnProps, maxRetries)
      } else {
        val affRows = affOpt.map(_.limit(MorMaxCollectRows + 1).collect())
          .getOrElse(Array.empty[org.apache.spark.sql.Row])
        require(affRows.length <= MorMaxCollectRows,
          s"iceberg merge: over $MorMaxCollectRows affected rows — merge-on-read is for " +
            "small upserts; use mode=copy-on-write" +
            (if (del0.nonEmpty) " after materializeDeletes" else ""))
        val tByKey = touched.map(e => PathKeys.driverKey(e.path, f) -> e).toMap
        val delRows: Seq[(String, Long)] = affRows.iterator
          .map(r => (tByKey(r.getString(0)).path, r.getLong(1))).toSeq.distinct.sorted
        val newEntries = out.map(o =>
          stageRewrite(spark, f, table, o, fieldNodes, partDefs)).getOrElse(Nil)
        if (delRows.isEmpty && newEntries.isEmpty && txn.isEmpty) return
        val delFile = if (delRows.isEmpty) None
          else Some(stageDeleteFile(spark, f, table, delRows))
        val op = if (delRows.isEmpty) "append" else "overwrite"
        val schemaIdAtScan = Option(meta0.get("current-schema-id")).map(_.asInt()).getOrElse(0)
        var attempt = 0
        var done = false
        while (!done) {
          val (meta, metaV) = ownedMetaV(spark, table, "merge")
          require(Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0) == schemaIdAtScan &&
              Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0) == 0,
            s"iceberg merge: the schema of $table changed under this merge; re-run")
          val (dataNow, delNow) = liveEntriesAll(spark, meta, table)
          require(dataNow.map(_.path).toSet == live0.map(_.path).toSet &&
              delNow.map(_.path).toSet == del0.map(_.path).toSet,
            s"iceberg merge: a concurrent write changed $table under this merge " +
              "(its rows were never probed); re-run")
          import scala.jdk.CollectionConverters._
          val retained = Option(meta.get("current-snapshot-id")).map(_.asLong())
            .filter(_ != -1L).toSeq.flatMap { curId =>
              val snap = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
                .find(_.get("snapshot-id").asLong() == curId).get
              IcebergReader.manifestListRowsOf(spark,
                  snap.get("manifest-list").asText(), table)
                .map { case (p, sq, specId, isDel, pj) =>
                  (p, 0L, sq, specId, isDel, summariesFromJson(pj)) }
            }
          val ok = publishSnapshotRows(spark, f, table, meta, metaV, op, txnProps,
            (snapshotId, seq) => {
              val newRows = Seq.newBuilder[(String, Long, Long, Int, Boolean, Option[Seq[FieldSummary]])]
              if (newEntries.nonEmpty) {
                val dm = writeManifest(spark, f, table, snapshotId, newEntries, partFields)
                newRows += ((dm._1, dm._2, seq, 0, false,
                  if (partFields.isEmpty) None else Some(dm._3)))
              }
              delFile.foreach { case (dp, dsz) =>
                val dm = writeManifest(spark, f, table, snapshotId,
                  Seq(ManifestEntry(dp, dsz, delRows.size.toLong, Nil)), Nil, content = 1)
                newRows += ((dm._1, dm._2, seq, 0, true, None))
              }
              newRows.result() ++ retained
            })
          if (ok) done = true
          else {
            attempt += 1
            require(attempt <= maxRetries,
              s"iceberg merge: lost the commit race $maxRetries times at $table — giving up")
          }
        }
      }
    } finally {
      if (srcPersistedHere) src.unpersist()
      tScans.foreach(_.unpersist())
    }
  }

  /** The writer-stamp gate + current metadata tree AND its file
    * version from ONE path resolution, shared by the lifecycle ops.
    * The version the optimistic create keys on MUST come from the same
    * read as the state: a fresh `currentVersionOf` after a rival
    * landed would target the version PAST the rival, the create would
    * SUCCEED, and the rival's snapshot would silently vanish from the
    * regenerated metadata instead of colliding at create-no-overwrite
    * (found by the round-12 merge race spec). */
  private def ownedMetaV(spark: SparkSession, table: String, op: String):
      (com.fasterxml.jackson.databind.node.ObjectNode, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = IcebergReader.currentMetadataPath(table, conf)
    val meta = mapper.readTree(IcebergReader.readTextAt(p, conf))
    require(Option(meta.get("properties")).exists(pr =>
        Option(pr.get("graft.writer")).exists(_.asText() == "true")),
      s"iceberg $op: $table was not written by this writer — regenerating its metadata " +
        "would drop state this model does not carry; use the iceberg-spark connector")
    (meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode],
      versionOfName(new Path(p).getName))
  }

  private def ownedMeta(spark: SparkSession, table: String, op: String):
      com.fasterxml.jackson.databind.node.ObjectNode = ownedMetaV(spark, table, op)._1

  /** Partition definitions (field name, source column, transform,
    * tuple type) of the table's default spec, from its own metadata —
    * drives lifecycle rewrites (compact/delete/merge) over every
    * transform the writer can stage. Identity fields take the source
    * column's name; bucket/temporal tuples are int ordinals, truncate
    * tuples the source type. */
  private def tablePartDefs(meta: JsonNode): Seq[(String, String, PTf, DataType)] = {
    import scala.jdk.CollectionConverters._
    val byId = currentSchemaFieldNodes(meta)
      .map(fl => fl.get("id").asInt() -> (fl.get("name").asText(), fl.get("type").asText()))
      .toMap
    val cur = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("partition-specs")).toSeq.flatMap(_.elements().asScala)
      .find(sp => Option(sp.get("spec-id")).map(_.asInt()).getOrElse(0) == cur)
      .toSeq.flatMap(_.get("fields").elements().asScala).map { pf =>
        val (srcName, srcT) = byId(pf.get("source-id").asInt())
        pf.get("transform").asText() match {
          case "identity"      => (srcName, srcName, PIdentity: PTf, sparkTypeOf(srcT))
          case BucketTfRe(n)   => (pf.get("name").asText(), srcName, PBucket(n.toInt), IntegerType: DataType)
          case TruncateTfRe(w) => (pf.get("name").asText(), srcName, PTruncate(w.toInt), sparkTypeOf(srcT))
          case k @ ("year" | "month" | "day" | "hour") =>
            (pf.get("name").asText(), srcName, PTemporal(k), IntegerType: DataType)
          case other => throw new IllegalArgumentException(
            s"iceberg: partition transform '$other' — outside this writer's profile")
        }
      }
  }

  private def tablePartFields(meta: JsonNode): Seq[StructField] =
    tablePartDefs(meta).map(d => StructField(d._1, d._4))

  /** FIELD-ID-resolved scan of writer-owned data files under the
    * CURRENT schema — the scan every rewrite op must use: after
    * [[renameColumn]], data files keep their pre-rename parquet column
    * names, so a plain by-name read would silently null every renamed
    * column out of a delete/merge/compact/zorder rewrite. The reader's
    * own field-id scan session plus the id-carrying schema resolve by
    * id exactly like the full read (files predating an additive
    * evolution null the new columns, same as the read path). */
  private def idScan(spark: SparkSession, meta: JsonNode, paths: Seq[String]): DataFrame = {
    val idSchema = IcebergReader.currentSchemaNode(meta).map(IcebergReader.toSparkSchema)
      .getOrElse(throw new IllegalStateException("iceberg: table has no current schema"))
    IcebergReader.scanClone(spark).read.schema(idSchema).parquet(paths: _*)
  }

  /** Current snapshot's live data-file entries (path, size, records,
    * partition JSON) — writer-owned tables only carry data manifests
    * this writer (or its retained chain) wrote. */
  private def liveEntries(spark: SparkSession, meta: JsonNode, table: String): Seq[LiveEntry] = {
    val (data, dels) = liveEntriesAll(spark, meta, table)
    require(dels.isEmpty, s"iceberg: $table carries delete manifests — rewrite ops on " +
      "such tables refuse (raw scans would resurrect deleted rows); run " +
      "IcebergWriter.materializeDeletes to fold the deletes into data files, or use " +
      "the iceberg-spark connector")
    data
  }

  /** Live (data, position-delete) entries of the current snapshot —
    * the tolerant variant the merge-on-read delete and
    * [[materializeDeletes]] use; everything else goes through
    * [[liveEntries]]'s refusal. */
  private def liveEntriesAll(spark: SparkSession, meta: JsonNode,
      table: String): (Seq[LiveEntry], Seq[LiveEntry]) = {
    import scala.jdk.CollectionConverters._
    val curId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
      .getOrElse(throw new IllegalArgumentException(s"iceberg: $table has no current snapshot"))
    val snap = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
      .find(_.get("snapshot-id").asLong() == curId)
      .getOrElse(throw new IllegalArgumentException(s"iceberg: snapshot $curId missing from $table"))
    val refs = IcebergReader.manifestListRowsOf(spark, snap.get("manifest-list").asText(), table)
    // every manifest parses under its own Avro schema (data and
    // delete manifests differ), through the reader's manifest cache
    def load(paths: Seq[String]): Seq[(Int, LiveEntry)] =
      paths.flatMap(IcebergReader.manifestEntriesOf(spark, table, _)).filter(_.status != 2)
        .map(r => (r.content, LiveEntry(r.filePath, r.fileSize.getOrElse(0L),
          r.recordCount.getOrElse(0L), r.partitionJson, r.lowerJson, r.upperJson)))
    val (delRefs, dataRefs) = refs.partition(_._4)
    val fromData = load(dataRefs.map(_._1))
    val fromDel = load(delRefs.map(_._1))
    // entry-level content is the belt to the list-level flag's braces
    (fromData.filter(_._1 == 0).map(_._2),
      fromDel.map(_._2) ++ fromData.filter(_._1 != 0).map(_._2))
  }

  /** Pre-prune the DETECTION candidates of a row-level rewrite with
    * the reader's own skipping machinery BEFORE any data file's footer
    * opens (the round-13 Delta shape, ported): exact identity-
    * partition-tuple evaluation, then conservative per-file column
    * bounds (manifest lower_bounds/upper_bounds, the SAME single-value
    * decode the reader prunes with, so writer and pruner cannot
    * drift). Both stages fail open and the detection scan re-applies
    * the full predicate, so skipping is correctness-neutral — but a
    * partition-scoped delete (or a key-bounded merge) on a 100 TB
    * table opens only its own partition's files, not every live file. */
  private def pruneDetection(spark: SparkSession, meta: JsonNode,
      fieldNodes: Seq[JsonNode], entries: Seq[LiveEntry],
      conjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[LiveEntry] = {
    if (conjs.isEmpty || entries.isEmpty) return entries
    var candidates = entries
    val identityFields = tablePartDefs(meta).collect {
      case (_, src, PIdentity, dt) => StructField(src, dt)
    }
    if (identityFields.nonEmpty) scala.util.Try {
      // entries without a readable tuple for every identity field fail
      // open (kept) — partitionPrune would read an absent key as a
      // genuine NULL and wrongly drop the file
      val (withPv, withoutPv) = candidates.partition(e => e.pvJson != null && {
        val node = mapper.readTree(e.pvJson)
        identityFields.forall(pf => node.has(pf.name))
      })
      val tuples = withPv.map { e =>
        val node = mapper.readTree(e.pvJson)
        e.path -> identityFields.map(pf =>
          Option(node.get(pf.name)).filterNot(_.isNull).map(_.asText()).orNull)
      }
      FileSkipping.partitionPrune(spark, identityFields, tuples, conjs).foreach(kept =>
        candidates = withPv.filter(e => kept.contains(e.path)) ++ withoutPv)
    }
    if (candidates.nonEmpty) scala.util.Try {
      val shapes = conjs.flatMap(FileSkipping.simpleShape)
        .collect { case c: FileSkipping.Cmp => c }
      val byColName = fieldNodes.map(n => n.get("name").asText().toLowerCase ->
        (n.get("id").asInt(), n.get("type").asText())).toMap
      // same-domain literals only (bare ordinals: days vs micros vs
      // ints would compare WRONG, not fewer — the reader's guard)
      val guarded = shapes.flatMap(c => byColName.get(c.name.toLowerCase)
        .filter { case (_, t) => FileSkipping.literalsMatch(c, t) }
        .map(ct => (c, ct._1, ct._2)))
      if (guarded.nonEmpty)
        candidates = candidates.filterNot { e =>
          (e.lowerJson != null || e.upperJson != null) && guarded.exists { case (c, id, t) =>
            FileSkipping.rangeExcludes(c,
              FileSkipping.icebergBound(e.lowerJson, id, t),
              FileSkipping.icebergBound(e.upperJson, id, t))
          }
        }
    }
    candidates
  }

  /** Live entries whose partition tuple satisfies `predicate`,
    * evaluated by Spark itself driver-local (same engine and session
    * timezone as the scan-time residual, so semantics match by
    * construction — the Delta writer's matchingFiles shape). */
  private def matchingEntryPaths(spark: SparkSession, entries: Seq[LiveEntry],
      partFields: Seq[StructField], predicate: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(StructField("__path", StringType) +: partFields)
    val rows: java.util.List[org.apache.spark.sql.Row] = entries.map(e =>
      org.apache.spark.sql.Row.fromSeq(e.path +: typedTupleOf(e.pvJson, partFields))).asJava
    spark.createDataFrame(rows, schema).where(predicate)
      .select("__path").collect().map(_.getString(0)).toSet
  }

  private def typedTupleOf(pvJson: String, partFields: Seq[StructField]): Seq[Any] = {
    if (partFields.isEmpty) return Nil
    val node = if (pvJson == null) mapper.createObjectNode() else mapper.readTree(pvJson)
    partFields.map { pf =>
      Option(node.get(pf.name)).filterNot(_.isNull).map(v => pf.dataType match {
        case IntegerType => v.asInt()
        case LongType    => v.asLong()
        case DateType    => java.sql.Date.valueOf(v.asText())
        case _           => v.asText()
      }).orNull
    }
  }

  /** OPTIMIZE (the Delta writer's `compact` twin): every partition
    * group with more than one live data file is rewritten into one,
    * committed as a `replace` snapshot — the `graft-iceberg` stream
    * emits nothing for it and `readChangesSince` windows refuse only
    * when it rewrites an in-window add (both already spec'd on the
    * read side). Old snapshots keep reading their own manifests
    * untouched; [[expireSnapshots]] reclaims them. Field ids are
    * re-attached to the rewritten parquet, so by-id resolution holds.
    * The retry loop re-resolves the live set per attempt and refuses
    * if a rival removed a file it meant to rewrite (rewriting it would
    * resurrect deleted rows). Merged-manifest sequence numbers reset to
    * the new snapshot's — safe because the writer profile admits no
    * delete files, the only consumers of sequence ordering.
    * `where` scopes the rewrite to matching partitions (identity
    * partition columns, evaluated exactly per entry tuple — at 100 TB,
    * compacting one day must not touch the others); `targetFileBytes`
    * BIN-PACKS each partition's files first-fit-decreasing toward the
    * target (1 GB default), so a huge partition lands as right-sized
    * files instead of one giant one (oversized files are not split).
    * Returns the number of bins compacted. */
  def compact(spark: SparkSession, table: String, maxRetries: Int = 10,
      where: Option[String] = None, targetFileBytes: Long = 1L << 30): Int = {
    require(targetFileBytes >= 1, "iceberg compact: targetFileBytes must be >= 1")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta0 = ownedMeta(spark, table, "compact")
    val partFields = tablePartFields(meta0)
    val live0 = liveEntries(spark, meta0, table)
    val scoped: Option[Set[String]] = where.map { w =>
      val partDefs = tablePartDefs(meta0)
      val identityCols = partDefs.filter(_._3 == PIdentity).map(_._2.toLowerCase).toSet
      require(identityCols.nonEmpty,
        "iceberg compact: where needs identity partition columns")
      val conjs = FileSkipping.conjuncts(w)
      require(conjs.nonEmpty && conjs.map(FileSkipping.usableRefs).forall(_.isDefined),
        s"iceberg compact: where '$w' has conjunct(s) this writer cannot analyze; " +
          "use bare partition column names and deterministic expressions")
      val refs = conjs.flatMap(FileSkipping.usableRefs).flatten.toSet
      require(refs.nonEmpty && refs.subsetOf(identityCols),
        s"iceberg compact: where '$w' must reference identity partition columns only " +
          s"([${identityCols.toSeq.sorted.mkString(",")}])")
      matchingEntryPaths(spark, live0, partFields, w)
    }
    // zero-copy groups (a shallow clone's references outside this root)
    // skip: their rewrite would land next to the SOURCE's files
    val root = f.makeQualified(new Path(table.stripSuffix("/"))).toString + "/"
    val groups = live0.filter(e =>
        f.makeQualified(new Path(e.path)).toString.startsWith(root))
      .filter(e => scoped.forall(_.contains(e.path)))
      .groupBy(e => Option(e.pvJson).getOrElse("")).values.toSeq
    // first-fit-decreasing bins toward the target; single-file bins
    // need no rewrite
    val multi: Seq[Seq[LiveEntry]] = groups.flatMap { g =>
      val sorted = g.sortBy(e => -e.size)
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      val bins = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[LiveEntry]]()
      sorted.foreach { e =>
        val i = sizes.indexWhere(_ + e.size <= targetFileBytes)
        if (i >= 0) { sizes(i) += e.size; bins(i) += e }
        else { sizes += e.size; bins += scala.collection.mutable.ArrayBuffer(e) }
      }
      bins.map(_.toSeq).filter(_.size >= 2).toSeq
    }
    if (multi.isEmpty) return 0

    // rewrite each multi-file group next to its sources (one tuple per
    // group by construction, so the dir layout is preserved)
    val fieldNodes = currentSchemaFieldNodes(meta0)
    val schemaFields: Seq[(String, DataType, Int)] = fieldNodes.map(n =>
      (n.get("name").asText(), sparkTypeOfNode(n.get("type")), n.get("id").asInt()))
    val rewrittenSources = multi.flatMap(_.map(_.path)).toSet
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    val newFiles: Seq[ManifestEntry] = try {
      multi.zipWithIndex.map { case (group, gi) =>
        // read under the EXPLICIT current schema, resolved by FIELD ID:
        // after additive evolution a group mixes files with and without
        // the new columns (a sampled schema would drop columns), and
        // after renameColumn the files carry pre-rename names (a
        // by-name read would null the renamed columns)
        val df = idScan(spark, meta0, group.map(_.path))
        // rewritten files must carry the ORIGINAL ids at every level —
        // re-derived ids would bind compacted rows to the wrong columns
        val withIds = df.select(fieldNodes.map { n =>
          val nm = n.get("name").asText()
          val dt = sparkTypeOfNode(n.get("type"))
          val attached = attachIds(dt, n.get("type"))
          val base = if (attached == dt) df(nm) else df(nm).cast(attached)
          base.as(nm,
            new MetadataBuilder().putLong("parquet.field.id", n.get("id").asLong()).build())
        }.toSeq: _*)
        val gDir = new Path(staging, s"g$gi")
        withMicrosTimestamps(withIds.sparkSession) {
          withIds.coalesce(1).write.parquet(gDir.toString)
        }
        val part = {
          val it = f.listFiles(gDir, false)
          var found: org.apache.hadoop.fs.FileStatus = null
          while (it.hasNext) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) found = st }
          require(found != null, s"iceberg compact: no parquet staged for group $gi")
          found
        }
        val destDir = new Path(group.head.path).getParent
        val dest = new Path(destDir, s"compact-${java.util.UUID.randomUUID()}.parquet")
        require(f.rename(part.getPath, dest), s"iceberg compact: rename to $dest failed")
        val st = f.getFileStatus(dest)
        val fs = footerStats(f, st.getPath, schemaFields)
        ManifestEntry(storedPath(st.getPath), st.getLen, fs.records,
          typedTupleOf(group.head.pvJson, partFields), fs.lower, fs.upper)
      }
    } finally scala.util.Try(f.delete(staging, true))

    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, "compact")
      val nowLive = liveEntries(spark, meta, table)
      val gone = rewrittenSources -- nowLive.map(_.path).toSet
      require(gone.isEmpty,
        s"iceberg compact: file(s) ${gone.take(3).mkString(", ")} were removed by a " +
          "concurrent writer — rewriting them would resurrect deleted rows; re-run")
      val kept = nowLive.filterNot(e => rewrittenSources.contains(e.path))
      val entries = kept.map(toManifestEntry(_, partFields)) ++ newFiles
      if (publishSnapshot(spark, f, table, meta, metaV, "replace", entries, partFields, txnProps = Map.empty))
        return multi.size
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg compact: lost the commit race $maxRetries times at $table — giving up")
    }
    multi.size // unreachable
  }

  /** OPTIMIZE ZORDER — rewrite each partition group's live files
    * clustered on a Z-order curve over `zCols` (iceberg-spark's
    * `rewrite_data_files(strategy => 'sort', sort_order =>
    * 'zorder(a, b)')`). Every rewritten file then covers a small range
    * of EVERY clustering column, so the per-file `lower_bounds` /
    * `upper_bounds` this writer records in its manifests — the same
    * bounds [[IcebergReader]] range-prunes with — become selective for
    * conjuncts on any subset of `zCols`.
    *
    * Shares the Delta twin's [[ZOrder]] machinery (one approxQuantile
    * sketch per group feeding pure-Column rank/interleave, no UDF) and
    * compact's staging/publish shape: per-group distributed rewrites,
    * ONE `replace` snapshot, rival-removal check per attempt. Tables
    * carrying delete files refuse via [[liveEntries]] naming
    * materializeDeletes (a raw group scan would resurrect deleted
    * rows). Returns the number of files rewritten. */
  def zorder(spark: SparkSession, table: String, zCols: Seq[String],
      targetFileBytes: Long = 128L << 20, ranks: Int = 64,
      maxRetries: Int = 10): Int = {
    import org.apache.spark.sql.functions.col
    ZOrder.validate(zCols, ranks, targetFileBytes, "iceberg zorder")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta0 = ownedMeta(spark, table, "zorder")
    val partFields = tablePartFields(meta0)
    val partDefs = tablePartDefs(meta0)
    val live0 = liveEntries(spark, meta0, table)
    if (live0.isEmpty) return 0
    val fieldNodes = currentSchemaFieldNodes(meta0)
    val schemaFields: Seq[(String, DataType, Int)] = fieldNodes.map(n =>
      (n.get("name").asText(), sparkTypeOfNode(n.get("type")), n.get("id").asInt()))
    val zFields: Seq[(String, DataType)] = zCols.map { c =>
      val fl = schemaFields.find(_._1.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"iceberg zorder: no column '$c' at $table " +
          s"(have: ${schemaFields.map(_._1).mkString(", ")})"))
      require(!partDefs.exists(_._2.equalsIgnoreCase(c)),
        s"iceberg zorder: '$c' is a partition SOURCE column — its files are already " +
          "scoped by their tuples; z-order data columns")
      (fl._1, fl._2)
    }
    val zroot = f.makeQualified(new Path(table.stripSuffix("/"))).toString + "/"
    require(live0.forall(e => f.makeQualified(new Path(e.path)).toString.startsWith(zroot)),
      s"iceberg zorder: $table references files outside its root (a shallow clone) — " +
        "the clustered rewrite would land in the source tree; rewrite the shared " +
        "files first (overwrite or row-level ops) or z-order the source")
    val rewrittenSources = live0.map(_.path).toSet
    val staging = new Path(table.stripSuffix("/") + s"/_staging_${java.util.UUID.randomUUID()}")
    val newFiles: Seq[ManifestEntry] = try {
      live0.groupBy(e => Option(e.pvJson).getOrElse("")).values.toSeq
        .sortBy(_.head.path).zipWithIndex.flatMap { case (group, gi) =>
          // field-id-resolved like compact's group read (see there)
          val df = idScan(spark, meta0, group.map(_.path))
          val zc = "__graft_z"
          val nFiles = math.max(1L, math.min(
            (group.map(_.size).sum + targetFileBytes - 1) / targetFileBytes, 1L << 20)).toInt
          val arranged = df
            .withColumn(zc, ZOrder.zColumn(df, zFields, ranks, "iceberg zorder"))
            .repartitionByRange(nFiles, col(zc))
            .sortWithinPartitions(zc)
            .drop(zc)
          // rewritten files carry the ORIGINAL ids at every level (the
          // compact rule — re-derived ids would bind rows to the wrong
          // columns)
          val withIds = arranged.select(fieldNodes.map { n =>
            val nm = n.get("name").asText()
            val dt = sparkTypeOfNode(n.get("type"))
            val attached = attachIds(dt, n.get("type"))
            val base = if (attached == dt) arranged(s"`$nm`") else arranged(s"`$nm`").cast(attached)
            base.as(nm,
              new MetadataBuilder().putLong("parquet.field.id", n.get("id").asLong()).build())
          }.toSeq: _*)
          val gDir = new Path(staging, s"g$gi")
          withMicrosTimestamps(withIds.sparkSession) {
            withIds.write.parquet(gDir.toString)
          }
          val destDir = new Path(group.head.path).getParent
          val parts = {
            val it = f.listFiles(gDir, false)
            val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
            while (it.hasNext) { val st = it.next()
              if (st.getPath.getName.endsWith(".parquet")) b += st }
            b.result().sortBy(_.getPath.getName)
          }
          parts.map { part =>
            val dest = new Path(destDir, s"zorder-${java.util.UUID.randomUUID()}.parquet")
            require(f.rename(part.getPath, dest), s"iceberg zorder: rename to $dest failed")
            val st = f.getFileStatus(dest)
            val fs = footerStats(f, st.getPath, schemaFields)
            ManifestEntry(storedPath(st.getPath), st.getLen, fs.records,
              typedTupleOf(group.head.pvJson, partFields), fs.lower, fs.upper)
          }
        }
    } finally scala.util.Try(f.delete(staging, true))

    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, "zorder")
      val nowLive = liveEntries(spark, meta, table)
      val gone = rewrittenSources -- nowLive.map(_.path).toSet
      require(gone.isEmpty,
        s"iceberg zorder: file(s) ${gone.take(3).mkString(", ")} were removed by a " +
          "concurrent writer — rewriting them would resurrect deleted rows; re-run")
      val kept = nowLive.filterNot(e => rewrittenSources.contains(e.path))
      val entries = kept.map(toManifestEntry(_, partFields)) ++ newFiles
      if (publishSnapshot(spark, f, table, meta, metaV, "replace", entries, partFields,
          txnProps = Map.empty))
        return live0.size
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg zorder: lost the commit race $maxRetries times at $table — giving up")
    }
    live0.size // unreachable
  }

  /** Retire history (the Delta writer's `vacuum`+log-aging twin in one
    * step, Iceberg's expire_snapshots): keep the newest `keepLast`
    * snapshots (the current snapshot always survives), rewrite the
    * metadata without the expired ones, then delete every data file,
    * manifest and manifest list referenced ONLY by expired snapshots.
    * Time travel / changes / streaming baselines on expired snapshots
    * refuse afterwards with the reader's existing re-baseline errors.
    * Streaming-sink txn markers riding expired snapshots vanish with
    * them (the rollback caveat) — keep at least one recent snapshot
    * per active sink app. Crashed-write `_staging_*` leftovers age out
    * under the Delta vacuum's 7-day cutoff. Returns the number of
    * snapshots expired. */
  /** Roll the table back to `snapshotId` (iceberg's
    * `rollback_to_snapshot`): a METADATA-ONLY commit — the new
    * metadata file re-points `current-snapshot-id` at the target
    * ancestor and appends a snapshot-log entry; no snapshot is created
    * or destroyed, so time travel to the abandoned head keeps working
    * until [[expireSnapshots]] reclaims it. O(1) in table size.
    *
    * The target must be an ANCESTOR of the current snapshot (walked
    * along parent-snapshot-id, the spec's rollback rule —
    * `set_current_snapshot` to an arbitrary branch is out of profile)
    * and must still be listed (not expired). Streams: the
    * `graft-iceberg` source anchors on ancestry — a rollback makes the
    * checkpointed anchor a NON-ancestor, which the source's existing
    * lineage walk refuses loudly (restart to re-baseline). */
  def rollbackTo(spark: SparkSession, table: String, snapshotId: Long,
      maxRetries: Int = 10): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, "rollback")
      val snaps = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala).toSeq
      val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
      require(byId.contains(snapshotId),
        s"iceberg rollback: snapshot $snapshotId is not listed at $table (expired?)")
      val curId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
        .getOrElse(throw new IllegalArgumentException(
          s"iceberg rollback: $table has no current snapshot"))
      if (curId == snapshotId) return // already there
      // ancestry walk: rollback only ever rewinds a lineage
      var anc = Option(curId)
      var isAncestor = false
      while (anc.isDefined && !isAncestor) {
        if (anc.get == snapshotId) isAncestor = true
        else anc = byId.get(anc.get).flatMap(s =>
          Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong()))
      }
      require(isAncestor,
        s"iceberg rollback: snapshot $snapshotId is not an ancestor of the current " +
          s"snapshot $curId — rollback only rewinds a lineage (the spec's " +
          "rollback_to_snapshot rule)")
      val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      newMeta.put("current-snapshot-id", snapshotId)
      val logArr = newMeta.putArray("snapshot-log")
      Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala).foreach(logArr.add)
      val entry = logArr.addObject()
      entry.put("timestamp-ms", System.currentTimeMillis())
      entry.put("snapshot-id", snapshotId)
      newMeta.put("last-updated-ms", System.currentTimeMillis())
      val version = metaV + 1
      val metaPath = new Path(new Path(table.stripSuffix("/") + "/metadata"),
        s"v$version.metadata.json")
      val ok = scala.util.Try {
        val out = f.create(metaPath, /* overwrite = */ false)
        try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      if (ok.isSuccess) return
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg rollback: lost the commit race $maxRetries times at $table — giving up")
    }
  }

  /** RENAME COLUMN — METADATA-ONLY schema evolution by field id
    * (Iceberg's marquee correctness feature, spec §Schemas "Column
    * Projection": readers resolve columns by id, so a rename is one
    * appended schema object + a current-schema-id bump and ZERO data
    * IO; reference `intake/readers/readers.py` Iceberg family reads
    * whatever the connector evolved). Old data files keep their
    * parquet field ids and serve the NEW name; old snapshots keep
    * referencing THEIR schema-id, so time travel still serves the
    * name that was current then.
    *
    * Partition SOURCE columns refuse: this writer regenerates the
    * identity spec's field names from the current schema at every
    * write, and the reader keys partition tuples by spec field name —
    * a renamed source would desync every existing manifest's tuples. */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String,
      maxRetries: Int = 10): Unit =
    evolveSchema(spark, table, "renameColumn", from, maxRetries) { (fields, idx) =>
      import scala.jdk.CollectionConverters._
      require(to.nonEmpty && !to.exists(c => "[ ,;{}()\n\t=]".contains(c)),
        s"iceberg renameColumn: invalid column name '$to'")
      require(!fields.asScala.exists(_.get("name").asText().equalsIgnoreCase(to)),
        s"iceberg renameColumn: column '$to' already exists at $table")
      fields.get(idx).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("name", to)
    }

  /** DROP COLUMN — METADATA-ONLY: the appended schema object simply
    * omits the field; data files keep the bytes but no reader under
    * the new schema projects them. `last-column-id` never decreases,
    * so a later re-add of the same NAME gets a FRESH id and old
    * values can never resurrect (spec-pinned). Partition sources
    * refuse (their spec references the id). */
  def dropColumn(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 10): Unit =
    evolveSchema(spark, table, "dropColumn", name, maxRetries) { (fields, idx) =>
      require(fields.size() > 1,
        s"iceberg dropColumn: cannot drop the only column of $table")
      fields.remove(idx)
    }

  /** Shared metadata-only schema-evolution commit: locate `col` in
    * the CURRENT schema, let `mutate` rewrite a deep copy of its
    * field array, then append the result as a NEW schema object with
    * the next schema-id and bump current-schema-id — the rollbackTo
    * optimistic-commit shape (per-attempt head re-resolve,
    * create-no-overwrite publish). */
  private def evolveSchema(spark: SparkSession, table: String, op: String,
      col: String, maxRetries: Int)(
      mutate: (com.fasterxml.jackson.databind.node.ArrayNode, Int) => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, op)
      val curSchemaId = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
      val schemas = Option(meta.get("schemas")).toSeq.flatMap(_.elements().asScala).toSeq
      val curSchema = schemas.find(s =>
          Option(s.get("schema-id")).map(_.asInt()).getOrElse(0) == curSchemaId)
        .getOrElse(throw new IllegalStateException(
          s"iceberg $op: current-schema-id $curSchemaId not in schemas at $table"))
      val newSchema = curSchema.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val fields = newSchema.get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val fieldSeq = fields.elements().asScala.toSeq
      val idx = fieldSeq.indexWhere(_.get("name").asText().equalsIgnoreCase(col))
      require(idx >= 0, s"iceberg $op: no top-level column '$col' at $table " +
        s"(have: ${fieldSeq.map(_.get("name").asText()).mkString(", ")})")
      val fieldId = fieldSeq(idx).get("id").asInt()
      val specSources = Option(meta.get("partition-specs")).toSeq
        .flatMap(_.elements().asScala)
        .flatMap(sp => Option(sp.get("fields")).toSeq.flatMap(_.elements().asScala))
        .map(_.get("source-id").asInt()).toSet
      require(!specSources.contains(fieldId),
        s"iceberg $op: column '$col' (id $fieldId) is a partition SOURCE — this " +
          "writer regenerates identity spec field names from the current schema and " +
          "partition tuples key by spec field name, so evolving a source column would " +
          "desync existing manifests; rewrite the table under the new layout instead")
      mutate(fields, idx)
      val newSchemaId = schemas
        .map(s => Option(s.get("schema-id")).map(_.asInt()).getOrElse(0))
        .maxOption.getOrElse(-1) + 1
      newSchema.put("schema-id", newSchemaId)
      val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("schemas")
        .add(newSchema)
      newMeta.put("current-schema-id", newSchemaId)
      newMeta.put("last-updated-ms", System.currentTimeMillis())
      val version = metaV + 1
      val metaPath = new Path(new Path(table.stripSuffix("/") + "/metadata"),
        s"v$version.metadata.json")
      val ok = scala.util.Try {
        val out = f.create(metaPath, /* overwrite = */ false)
        try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      if (ok.isSuccess) return
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg $op: lost the commit race $maxRetries times at $table — giving up")
    }
  }

  /** SHALLOW CLONE (iceberg-spark's `snapshot` procedure spirit): a
    * ZERO-COPY fork — every Iceberg path (manifest lists, manifests,
    * data files) is stored ABSOLUTE, so the clone is one new metadata
    * json with a fresh table-uuid and the new location; snapshots,
    * schemas and refs carry verbatim, so time travel, tags and
    * incremental reads all work against the shared files. O(1) in
    * table size. The clone evolves independently: appends and
    * row-level rewrites stage under ITS root (stageRewrite renames
    * into `<table>/data`); [[expireSnapshots]]'s root-guard never
    * deletes a file outside the clone's root, so source files are
    * safe from the clone's retention — but expire on the SOURCE can
    * reclaim files the clone still references, the same documented
    * hazard as the Delta twin. [[compact]] skips zero-copy groups;
    * [[zorder]] refuses until the shared files are rewritten (e.g. by
    * a merge/delete or an overwrite). Returns the number of live data
    * files referenced. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(dst).resolve("/"), conf)
    val meta = ownedMeta(spark, src, "clone")
    val dstMetaDir = new Path(dst.stripSuffix("/") + "/metadata")
    require(!f.exists(dstMetaDir), s"iceberg clone: $dst is already an iceberg table")
    val (data, _) = liveEntriesAll(spark, meta, src)
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.put("location", dst.stripSuffix("/"))
    newMeta.put("table-uuid", java.util.UUID.randomUUID().toString)
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    f.mkdirs(dstMetaDir)
    val metaPath = new Path(dstMetaDir, "v1.metadata.json")
    val out = f.create(metaPath, /* overwrite = */ false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
      .getBytes(StandardCharsets.UTF_8)) finally out.close()
    data.size
  }

  /** TAG a snapshot (spec `refs`, type `tag`): one metadata-only
    * commit adding a named immutable label — [[IcebergReader.read]]
    * serves it via `ref = Some(name)` under the snapshot's OWN schema,
    * and [[expireSnapshots]] retains tagged snapshots (and their
    * files) regardless of `keepLast`, Iceberg's ref-pinned retention.
    * Defaults to the current snapshot. Branch CREATION stays with the
    * connector (a branch without branch writes is a lie); branch refs
    * written by other engines still read via `ref`. */
  def tagSnapshot(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None, maxRetries: Int = 10): Unit = {
    require(name.nonEmpty, "iceberg tag: empty ref name")
    editRefs(spark, table, "tag", maxRetries) { (meta, refs) =>
      import scala.jdk.CollectionConverters._
      require(!refs.hasNonNull(name),
        s"iceberg tag: ref '$name' already exists at $table")
      val id = snapshotId.getOrElse(
        Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
          .getOrElse(throw new IllegalArgumentException(
            s"iceberg tag: $table has no current snapshot")))
      require(Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
          .exists(_.get("snapshot-id").asLong() == id),
        s"iceberg tag: snapshot $id is not listed at $table (expired?)")
      val entry = refs.putObject(name)
      entry.put("snapshot-id", id)
      entry.put("type", "tag")
    }
  }

  /** CREATE BRANCH (iceberg `ALTER TABLE ... CREATE BRANCH name`): a
    * MUTABLE named ref pinned at a snapshot (default: current head).
    * `write(toBranch = name)` advances it; main readers and streams
    * never see branch commits until `fastForward` publishes them.
    * Ref-pinned retention protects the branch head from
    * expireSnapshots exactly like tags. */
  def createBranch(spark: SparkSession, table: String, name: String,
      snapshotId: Option[Long] = None, maxRetries: Int = 10): Unit = {
    require(name.nonEmpty, "iceberg createBranch: empty ref name")
    editRefs(spark, table, "createBranch", maxRetries) { (meta, refs) =>
      import scala.jdk.CollectionConverters._
      require(!refs.hasNonNull(name),
        s"iceberg createBranch: ref '$name' already exists at $table")
      val id = snapshotId.getOrElse(
        Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
          .getOrElse(throw new IllegalArgumentException(
            s"iceberg createBranch: $table has no current snapshot")))
      require(Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
          .exists(_.get("snapshot-id").asLong() == id),
        s"iceberg createBranch: snapshot $id is not listed at $table (expired?)")
      val entry = refs.putObject(name)
      entry.put("snapshot-id", id)
      entry.put("type", "branch")
    }
  }

  /** FAST-FORWARD (iceberg's `fast_forward` procedure, main-target
    * profile): main advances to the branch's head, REQUIRING main's
    * current head to be an ancestor of it — a pure pointer move that
    * publishes the branch's commits without rewriting anything.
    * Diverged lineages refuse (merging them is a rewrite this writer
    * does not do). Streams keep flowing: the move is ancestry-
    * preserving, so an incremental reader's last-seen snapshot is
    * still on the lineage. Returns the new main head snapshot id. */
  def fastForward(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 10): Long = {
    var result = -1L
    editRefs(spark, table, "fastForward", maxRetries) { (meta, refs) =>
      import scala.jdk.CollectionConverters._
      val r = Option(refs.get(name)).filterNot(_.isNull).getOrElse(
        throw new IllegalArgumentException(
          s"iceberg fastForward: no ref '$name' at $table"))
      require(Option(r.get("type")).forall(_.asText() == "branch"),
        s"iceberg fastForward: ref '$name' at $table is a tag, not a branch")
      val target = r.get("snapshot-id").asLong()
      val cur = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
      val parentOf: Map[Long, Option[Long]] =
        Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
          .map(s => s.get("snapshot-id").asLong() ->
            Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong()))
          .toMap
      var cursor: Option[Long] = Some(target)
      var isAncestor = cur.isEmpty
      while (cursor.isDefined && !isAncestor) {
        if (cur.contains(cursor.get)) isAncestor = true
        else cursor = parentOf.get(cursor.get).flatten
      }
      require(isAncestor,
        s"iceberg fastForward: main (${cur.getOrElse(-1L)}) is not an ancestor of " +
          s"branch '$name' head $target — the lineages diverged; rebuild the branch " +
          "from main (createBranch) instead of merging")
      val mNode = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      mNode.put("current-snapshot-id", target)
      val logEntry = mNode.withArray("/snapshot-log").addObject()
      logEntry.put("snapshot-id", target)
      logEntry.put("timestamp-ms", System.currentTimeMillis())
      result = target
    }
    result
  }

  /** REMOVE ORPHAN FILES (iceberg's `remove_orphan_files` procedure):
    * delete files under the table's `data/` that NO listed snapshot
    * references — crash leftovers from a writer that renamed staged
    * files into place but died before its commit published. The
    * 3-day default age floor protects exactly that in-flight window
    * (a just-renamed file becomes referenced only when its commit
    * lands); metadata/manifests are not touched (expireSnapshots owns
    * those), and `_staging_*` dirs age out the same way. Driver cost:
    * one listing of data/ plus a driver-local parse of every
    * snapshot's manifests (through the reader's manifest cache).
    * Returns the deleted (or, under `dryRun`, the would-be-deleted)
    * paths. */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000, dryRun: Boolean = false): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val meta = ownedMeta(spark, table, "removeOrphanFiles")
    // referenced = every data/delete file of EVERY listed snapshot
    // (time travel to any of them must keep working)
    val manifestPaths: Seq[String] =
      Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala)
        .flatMap(s => IcebergReader.manifestListRowsOf(spark,
          s.get("manifest-list").asText(), table).map(_._1))
        .distinct
    val referenced: Set[String] = manifestPaths
      .flatMap(IcebergReader.manifestEntriesOf(spark, table, _))
      .map(e => f.makeQualified(new Path(e.filePath)).toString).toSet
    val dataDir = new Path(table.stripSuffix("/") + "/data")
    if (!f.exists(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = Seq.newBuilder[Path]
    val it = f.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getModificationTime < cutoff &&
          !referenced.contains(f.makeQualified(st.getPath).toString))
        orphans += st.getPath
    }
    val out = orphans.result()
    if (!dryRun) out.foreach(p => f.delete(p, false))
    out.map(_.toString)
  }

  /** SET TBLPROPERTIES (iceberg `ALTER TABLE ... SET TBLPROPERTIES`):
    * metadata-only property update. Iceberg properties are writer
    * defaults / advisory tuning, not reader-facing declarations, so
    * they pass verbatim — except the `graft.*` ownership stamp, which
    * the writer's own gates depend on. */
  def setProperties(spark: SparkSession, table: String, props: Map[String, String],
      maxRetries: Int = 10): Unit = {
    require(!props.keys.exists(_.toLowerCase.startsWith("graft.")),
      "iceberg setProperties: graft.* is the writer's own ownership stamp")
    require(props.nonEmpty, "iceberg setProperties: empty property map")
    editRefs(spark, table, "setProperties", maxRetries) { (meta, _) =>
      val pNode = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .withObject("/properties")
      props.foreach { case (k, v) => pNode.put(k, v) }
    }
  }

  /** UNSET TBLPROPERTIES: metadata-only key removal (graft.* guarded). */
  def removeProperties(spark: SparkSession, table: String, keys: Seq[String],
      maxRetries: Int = 10): Unit = {
    require(!keys.exists(_.toLowerCase.startsWith("graft.")),
      "iceberg removeProperties: graft.* is the writer's own ownership stamp")
    editRefs(spark, table, "removeProperties", maxRetries) { (meta, _) =>
      val pNode = meta.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .withObject("/properties")
      import scala.jdk.CollectionConverters._
      val present = pNode.properties().asScala.map(_.getKey).toSeq
      keys.foreach(k => present.find(_.equalsIgnoreCase(k)).foreach(pNode.remove))
    }
  }

  /** Remove a named ref (tag or branch): the snapshot it pinned
    * becomes expirable again. */
  def removeRef(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 10): Unit =
    editRefs(spark, table, "removeRef", maxRetries) { (_, refs) =>
      require(refs.hasNonNull(name),
        s"iceberg removeRef: no ref '$name' at $table")
      refs.remove(name)
    }

  /** Shared metadata-only `refs` edit — the rollbackTo optimistic-
    * commit shape (per-attempt head re-resolve, create-no-overwrite). */
  private def editRefs(spark: SparkSession, table: String, op: String, maxRetries: Int)(
      mutate: (JsonNode, com.fasterxml.jackson.databind.node.ObjectNode) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, op)
      val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val refs = newMeta.withObject("/refs")
      mutate(newMeta, refs)
      if (refs.isEmpty) newMeta.remove("refs")
      newMeta.put("last-updated-ms", System.currentTimeMillis())
      val metaPath = new Path(new Path(table.stripSuffix("/") + "/metadata"),
        s"v${metaV + 1}.metadata.json")
      val ok = scala.util.Try {
        val out = f.create(metaPath, /* overwrite = */ false)
        try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      if (ok.isSuccess) return
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg $op: lost the commit race $maxRetries times at $table — giving up")
    }
  }

  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int = 1,
      maxRetries: Int = 10): Int = {
    require(keepLast >= 1, s"iceberg expireSnapshots: keepLast must be >= 1 (got $keepLast)")
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    var attempt = 0
    while (true) {
      val (meta, metaV) = ownedMetaV(spark, table, "expireSnapshots")
      val snaps = Option(meta.get("snapshots")).toSeq.flatMap(_.elements().asScala).toSeq
      val curId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
      // ref-pinned retention: a tagged/branched snapshot (and its
      // files) survives regardless of keepLast — the spec's rule, and
      // the only behavior under which a tag stays readable
      val refIds = Option(meta.get("refs")).toSeq
        .flatMap(_.properties().asScala.map(_.getValue))
        .flatMap(r => Option(r.get("snapshot-id")).map(_.asLong())).toSet
      val retainedIds = (snaps.takeRight(keepLast) ++
        snaps.filter(s => curId.contains(s.get("snapshot-id").asLong())))
        .map(_.get("snapshot-id").asLong()).toSet ++ refIds
      val retained = snaps.filter(s => retainedIds.contains(s.get("snapshot-id").asLong()))
      val expired = snaps.filterNot(s => retainedIds.contains(s.get("snapshot-id").asLong()))
      if (expired.isEmpty) return 0
      // reference sets: a file shared with any retained snapshot survives
      def refsOf(ss: Seq[JsonNode]): (Set[String], Set[String], Set[String]) = {
        val lists = ss.map(_.get("manifest-list").asText()).toSet
        val manifests = ss.flatMap(s =>
          IcebergReader.manifestListRowsOf(spark, s.get("manifest-list").asText(), table)
            .map(_._1)).toSet
        val data = manifests.flatMap(IcebergReader.manifestEntriesOf(spark, table, _))
          .map(_.filePath)
        (lists, manifests, data)
      }
      val (rLists, rManifests, rData) = refsOf(retained)
      val (eLists, eManifests, eData) = refsOf(expired)
      val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val snapArr = newMeta.putArray("snapshots")
      retained.foreach(snapArr.add)
      val logArr = newMeta.putArray("snapshot-log")
      Option(meta.get("snapshot-log")).toSeq.flatMap(_.elements().asScala)
        .filter(e => retainedIds.contains(e.get("snapshot-id").asLong()))
        .foreach(logArr.add)
      newMeta.put("last-updated-ms", System.currentTimeMillis())
      val version = metaV + 1
      val metaPath = new Path(new Path(table.stripSuffix("/") + "/metadata"), s"v$version.metadata.json")
      val ok = scala.util.Try {
        val out = f.create(metaPath, /* overwrite = */ false)
        try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      if (ok.isSuccess) {
        // reclaim only what no retained snapshot references; deletes are
        // best-effort (a missing file is already reclaimed). ROOT-GUARD:
        // never delete a file outside this table's own root — a shallow
        // clone references the source's files by absolute path, and
        // expiring the clone's history must not reclaim them
        val root = f.makeQualified(new Path(table.stripSuffix("/"))).toString + "/"
        ((eLists -- rLists) ++ (eManifests -- rManifests) ++ (eData -- rData))
          .filter(p => f.makeQualified(new Path(p)).toString.startsWith(root))
          .foreach(p => scala.util.Try(f.delete(new Path(p), false)))
        // staging leftovers from crashed writes age out under the same
        // 7-day cutoff the Delta vacuum applies to its own staging dirs
        val cutoff = System.currentTimeMillis() - 7L * 24 * 3600 * 1000
        scala.util.Try {
          f.listStatus(new Path(table.stripSuffix("/"))).foreach { st =>
            if (st.isDirectory && st.getPath.getName.startsWith("_staging_") &&
                st.getModificationTime < cutoff)
              f.delete(st.getPath, true)
          }
        }
        return expired.size
      }
      attempt += 1
      require(attempt <= maxRetries,
        s"iceberg expireSnapshots: lost the commit race $maxRetries times at $table — giving up")
    }
    0 // unreachable
  }

  /** One `replace`-style snapshot commit over an already-staged entry
    * set: manifest + manifest list + Jackson-tree metadata update
    * published create-no-overwrite. Returns false on a lost version
    * race (caller re-resolves and retries). */
  private def publishSnapshot(spark: SparkSession, f: FileSystem, table: String,
      meta: com.fasterxml.jackson.databind.node.ObjectNode, metaVersion: Long,
      operation: String, entries: Seq[ManifestEntry], partFields: Seq[StructField],
      txnProps: Map[String, String]): Boolean =
    publishSnapshotRows(spark, f, table, meta, metaVersion, operation, txnProps,
      (snapshotId, seq) => {
        val manifest = writeManifest(spark, f, table, snapshotId, entries, partFields)
        Seq((manifest._1, manifest._2, seq, 0, false,
          if (partFields.isEmpty) None else Some(manifest._3)))
      })

  /** [[publishSnapshot]] generalized to CALLER-built manifest-list rows
    * — `rows(snapshotId, seq)` returns the full list (retained
    * manifests verbatim + any new ones), so a merge-on-read delete can
    * retain every existing manifest and append one delete manifest. */
  private def publishSnapshotRows(spark: SparkSession, f: FileSystem, table: String,
      meta: com.fasterxml.jackson.databind.node.ObjectNode, metaVersion: Long,
      operation: String, txnProps: Map[String, String],
      rows: (Long, Long) => Seq[(String, Long, Long, Int, Boolean, Option[Seq[FieldSummary]])]):
      Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val seq = Option(meta.get("last-sequence-number")).map(_.asLong()).getOrElse(0L) + 1
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val parentId = Option(meta.get("current-snapshot-id")).map(_.asLong()).filter(_ != -1L)
    val listPath = writeManifestList(spark, f, table, snapshotId, rows(snapshotId, seq))
    val now = System.currentTimeMillis()
    val newSnap = mapper.createObjectNode()
    newSnap.put("snapshot-id", snapshotId)
    parentId.foreach(p => newSnap.put("parent-snapshot-id", p))
    newSnap.put("sequence-number", seq)
    newSnap.put("timestamp-ms", now)
    // bind the snapshot to the schema its rewritten files carry — the
    // CURRENT one, not the creation schema
    newSnap.put("schema-id",
      Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0))
    val summary = newSnap.putObject("summary")
    summary.put("operation", operation)
    txnProps.foreach { case (k, v) => summary.put(k, v) }
    newSnap.put("manifest-list", listPath)
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.put("last-sequence-number", seq)
    newMeta.put("last-updated-ms", now)
    newMeta.put("current-snapshot-id", snapshotId)
    def appendTo(field: String, node: JsonNode): Unit = Option(newMeta.get(field)) match {
      case Some(arr: ArrayNode) => arr.add(node)
      case _                    => newMeta.putArray(field).add(node)
    }
    appendTo("snapshots", newSnap)
    val logEntry = mapper.createObjectNode()
    logEntry.put("snapshot-id", snapshotId)
    logEntry.put("timestamp-ms", now)
    appendTo("snapshot-log", logEntry)
    // keyed on the version of the metadata this state was READ from: a
    // rival landing since then collides at create-no-overwrite and the
    // caller retries against the re-read head
    val version = metaVersion + 1
    val metaPath = new Path(new Path(table.stripSuffix("/") + "/metadata"), s"v$version.metadata.json")
    scala.util.Try {
      val out = f.create(metaPath, /* overwrite = */ false)
      try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(newMeta)
        .getBytes(StandardCharsets.UTF_8)) finally out.close()
    }.isSuccess
  }

  private case class FooterStats(records: Long,
      lower: Map[String, Array[Byte]], upper: Map[String, Array[Byte]])

  /** Row count + per-column bounds from the parquet footer, keyed by
    * field-id text (the schema's ACTUAL top-level ids — positions only
    * coincide on primitive-era tables). Bound validity leans on
    * parquet-mr's own truncator (a truncated max increments its final
    * byte, staying >= the true max); NaN extremes, nested columns and
    * non-profile types are skipped — the reader fails open per
    * column. */
  private def footerStats(f: FileSystem, p: Path,
      fields: Seq[(String, DataType, Int)]): FooterStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, f.getConf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val records = blocks.map(_.getRowCount).sum
      val lb = Map.newBuilder[String, Array[Byte]]
      val ub = Map.newBuilder[String, Array[Byte]]
      fields.foreach { case (name, dt, fid) => scala.util.Try {
        val id = fid.toString
        val colStats = blocks.flatMap(_.getColumns.asScala
          .find(c => c.getPath.toDotString == name).map(_.getStatistics))
        if (colStats.nonEmpty && colStats.forall(s =>
            s != null && !s.isEmpty && s.hasNonNullValue)) {
          val mins = colStats.map(_.genericGetMin)
          val maxs = colStats.map(_.genericGetMax)
          def encAll(vs: Seq[Any], takeMax: Boolean): Option[Array[Byte]] = dt match {
            case IntegerType | DateType =>
              val xs = vs.map(_.asInstanceOf[Number].intValue())
              Some(leBytes(4)(_.putInt(if (takeMax) xs.max else xs.min)))
            // timestamps stage as INT64 micros (Spark's parquet writer);
            // an INT96-era Binary stat fails the Number cast and the
            // Try skips the column — the reader fails open for it
            case LongType | TimestampType | TimestampNTZType =>
              val xs = vs.map(_.asInstanceOf[Number].longValue())
              Some(leBytes(8)(_.putLong(if (takeMax) xs.max else xs.min)))
            case FloatType =>
              val xs = vs.map(_.asInstanceOf[Number].floatValue())
              if (xs.exists(_.isNaN)) None
              else Some(leBytes(4)(_.putFloat(if (takeMax) xs.max else xs.min)))
            case DoubleType =>
              val xs = vs.map(_.asInstanceOf[Number].doubleValue())
              if (xs.exists(_.isNaN)) None
              else Some(leBytes(8)(_.putDouble(if (takeMax) xs.max else xs.min)))
            case StringType =>
              val xs = vs.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
              // unsigned byte order = UTF-8 code-point order, the
              // reader's string comparator
              val ord: Ordering[Array[Byte]] = (a, b) => {
                val n = math.min(a.length, b.length)
                var i = 0
                var c = 0
                while (i < n && c == 0) { c = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
                if (c != 0) c else a.length - b.length
              }
              Some(if (takeMax) xs.max(ord) else xs.min(ord))
            case _ => None
          }
          for (lo <- encAll(mins, takeMax = false); hi <- encAll(maxs, takeMax = true)) {
            lb += id -> lo
            ub += id -> hi
          }
        }
      } }
      FooterStats(records, lb.result(), ub.result())
    } finally r.close()
  }

  /** Object-form bounds JSON (`{"1": "<base64>"}`) back to bytes — how
    * a retained/kept entry's bounds carry through a manifest merge.
    * Anything unexpected (the array form of an external writer) drops
    * to empty: only pruning power is ever at stake. */
  private def boundsFromJson(j: String): Map[String, Array[Byte]] =
    Option(j).flatMap(s => scala.util.Try {
      val node = mapper.readTree(s)
      if (!node.isObject) Map.empty[String, Array[Byte]]
      else {
        import scala.jdk.CollectionConverters._
        node.fields().asScala.filterNot(_.getValue.isNull).map(e =>
          e.getKey -> java.util.Base64.getDecoder.decode(e.getValue.asText())).toMap
      }
    }.toOption).getOrElse(Map.empty)

  private def versionOfName(name: String): Long = {
    val n = name.stripSuffix(".metadata.json")
    (if (n.startsWith("v")) n.drop(1) else n.takeWhile(_.isDigit)) match {
      case "" => 0L
      case d  => d.takeWhile(_.isDigit).toLong
    }
  }

  private def currentVersionOf(table: String, conf: org.apache.hadoop.conf.Configuration): Long =
    versionOfName(new Path(IcebergReader.currentMetadataPath(table, conf)).getName)
}
