package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A PATH-ADDRESSED `TableCatalog` over jsondoc directories — the piece
  * that puts the DSv2 table behind real SQL DDL/DML, most importantly
  * the row-level commands (`MERGE INTO` / `UPDATE` / `DELETE`) that only
  * resolve through a catalog, never through `spark.read.format(...)`.
  *
  * Register once per session:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
  *   spark.sql("CREATE TABLE graftcat.`/data/docs` (doc_id BIGINT, ...) USING graft-jsondoc")
  *   spark.sql("MERGE INTO graftcat.`/data/docs` t USING changes c ON ...")
  * }}}
  *
  * The table NAME is the directory path (one name part, backticked in
  * SQL). That choice is deliberate: Spark caches catalog instances per
  * session by catalog name, so a root-directory option would freeze the
  * first root ever used — path-as-identifier keeps the catalog
  * stateless and every table addressable without reconfiguration.
  *
  * NAMED IDENTIFIERS (r16): alongside the path form, the catalog is a
  * full [[SupportsNamespaces]] + [[ViewCatalog]] over a WAREHOUSE root —
  * `graftcat.db.t` resolves to `<warehouse>/db/t`, namespaces are
  * directories, views are analyzer-expanded SQL persisted in
  * `<name>.view.json` files. The warehouse is read from the session
  * conf `spark.sql.catalog.<name>.warehouse` AT EACH RESOLUTION (not
  * frozen at initialize — the same statelessness rationale as
  * path-addressing: Spark caches catalog instances per session, so an
  * initialize-time root could never be re-pointed). Path identifiers
  * keep working unchanged; the two forms address the same engine.
  *
  * Schema durability: `CREATE TABLE` writes the declared schema to a
  * `_table_schema.json` sidecar (underscore-prefixed — every data
  * listing already skips it); `loadTable` prefers the sidecar and falls
  * back to sampling-based inference for directories created by the bare
  * writer path, so both flavors of table resolve. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var initWarehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse")).map(_.trim).filter(_.nonEmpty)
  }
  override def name(): String = catalogName

  /** The live warehouse root: the session conf, re-read per resolution
    * so one cached catalog instance can serve re-pointed (or unset)
    * roots — tests and multi-root sessions. The initialize-time option
    * only serves SESSIONLESS (bare library) use; with a live session
    * the conf is authoritative, including its absence. */
  private def warehouse: Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => s.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
        .map(_.trim).filter(_.nonEmpty)
      case None => initWarehouse
    }

  private def warehouseOrFail: java.io.File = new java.io.File(
    warehouse.getOrElse(throw new IllegalArgumentException(
      s"graft catalog: named identifiers need a warehouse root — SET " +
        s"spark.sql.catalog.$catalogName.warehouse = '/path'; " +
        "path-addressed identifiers (graftcat.`/dir`) need none")))

  /** One path segment of a namespace/table/view name: no separators, no
    * traversal, no collision with the engine's underscore sidecars. */
  private def validSegment(s: String, what: String): String = {
    require(s.nonEmpty && !s.contains('/') && !s.contains('\\') &&
      s != "." && s != ".." && !s.startsWith("_") && !s.startsWith("."),
      s"graft catalog: invalid $what segment '$s' (no path separators, " +
        "no traversal, must not start with '_' or '.')")
    s
  }

  private def namespaceDir(namespace: Array[String]): java.io.File =
    namespace.foldLeft(warehouseOrFail)((d, part) =>
      new java.io.File(d, validSegment(part, "namespace")))

  /** FunctionCatalog (r14): Spark resolves a transform-partitioned
    * table's clustered-write distribution (`days(col)`, `bucket(n,
    * col)`) by looking the transform up as a function in the table's
    * catalog — [[GraftTransforms]] provides bound functions computing
    * exactly the writer's directory values. */
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    require(ident.namespace().isEmpty,
      s"graft catalog functions take no namespace: ${ident.toString}")
    try GraftTransforms.loadFunction(ident.name())
    catch { case _: NoSuchElementException =>
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
        catalogName, ident.name())
    }
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("years", "months", "days", "hours", "bucket", "truncate")
      .map(Identifier.of(Array.empty, _))

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      Set("years", "months", "days", "hours", "bucket", "truncate").contains(ident.name())

  /** SQL maintenance: `CALL graftcat.vacuum(path, keep_last)` and
    * `CALL graftcat.optimize(path, target_bytes)` — see
    * [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty,
      s"graft catalog procedures take no namespace: ${ident.toString}")
    ident.name() match {
      case "vacuum" => GraftProcedures.VacuumProcedure
      case "optimize" => GraftProcedures.OptimizeProcedure
      case "expire_snapshots" => GraftProcedures.ExpireSnapshotsProcedure
      case "cluster" => new GraftProcedures.ClusterProcedure(catalogName)
      case "set_partition_spec" => GraftProcedures.SetPartitionSpecProcedure
      case "create_tag" => GraftProcedures.CreateTagProcedure
      case "drop_tag" => GraftProcedures.DropTagProcedure
      case "rollback" => GraftProcedures.RollbackProcedure
      case "publish" => GraftProcedures.PublishProcedure
      case "discard_staged" => GraftProcedures.DiscardStagedProcedure
      case "create_branch" => GraftProcedures.CreateBranchProcedure
      case "drop_branch" => GraftProcedures.DropBranchProcedure
      case "fast_forward" => GraftProcedures.FastForwardProcedure
      case "cherry_pick" => GraftProcedures.CherryPickProcedure
      case "merge_branch" => GraftProcedures.MergeBranchProcedure
      case "recover_txn2" => GraftProcedures.RecoverTxn2Procedure
      case "refresh_mv" => new GraftProcedures.RefreshMvProcedure(this)
      case "refresh_ann" => new GraftProcedures.RefreshAnnProcedure(catalogName)
      case "create_ann" => new GraftProcedures.CreateAnnProcedure(catalogName)
      case "ann_search" => new GraftProcedures.AnnSearchProcedure(catalogName)
      case "ann_state" => GraftProcedures.AnnStateProcedure
      case "create_text_index" => new GraftProcedures.CreateTextIndexProcedure(catalogName)
      case "refresh_text_index" => new GraftProcedures.RefreshTextIndexProcedure(catalogName)
      case "text_index_state" => GraftProcedures.TextIndexStateProcedure
      case "text_search" => new GraftProcedures.TextSearchProcedure(catalogName)
      case "text_search_and" =>
        new GraftProcedures.TextSearchProcedure(catalogName, "and")
      case "text_search_phrase" =>
        new GraftProcedures.TextSearchProcedure(catalogName, "phrase")
      case other => throw new UnsupportedOperationException(
        s"graft catalog has no procedure '$other' (available: vacuum, optimize, " +
          "expire_snapshots, cluster, set_partition_spec, create_tag, drop_tag, " +
          "rollback, publish, discard_staged, create_branch, drop_branch, " +
          "fast_forward, cherry_pick, merge_branch, refresh_mv, create_ann, refresh_ann, " +
          "ann_state, create_text_index, refresh_text_index, text_index_state, text_search)")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "vacuum"), Identifier.of(Array.empty, "optimize"),
      Identifier.of(Array.empty, "expire_snapshots"), Identifier.of(Array.empty, "cluster"),
      Identifier.of(Array.empty, "set_partition_spec"),
      Identifier.of(Array.empty, "create_tag"), Identifier.of(Array.empty, "drop_tag"),
      Identifier.of(Array.empty, "rollback"), Identifier.of(Array.empty, "publish"),
      Identifier.of(Array.empty, "discard_staged"),
      Identifier.of(Array.empty, "create_branch"), Identifier.of(Array.empty, "drop_branch"),
      Identifier.of(Array.empty, "fast_forward"), Identifier.of(Array.empty, "cherry_pick"),
      Identifier.of(Array.empty, "recover_txn2"), Identifier.of(Array.empty, "refresh_mv"),
      Identifier.of(Array.empty, "refresh_ann"), Identifier.of(Array.empty, "merge_branch"),
      Identifier.of(Array.empty, "create_ann"), Identifier.of(Array.empty, "ann_state"),
      Identifier.of(Array.empty, "create_text_index"),
      Identifier.of(Array.empty, "refresh_text_index"),
      Identifier.of(Array.empty, "text_index_state"),
      Identifier.of(Array.empty, "text_search"),
      Identifier.of(Array.empty, "text_search_and"),
      Identifier.of(Array.empty, "text_search_phrase"),
      Identifier.of(Array.empty, "ann_search"))

  /** Identifier -> directory. Empty namespace = the original
    * path-addressed form (the name IS the directory path, unchanged
    * since r12); a non-empty namespace resolves through the warehouse
    * root (r16) — `graftcat.db.t` is `<warehouse>/db/t`. */
  private def dirOf(ident: Identifier): java.io.File =
    if (ident.namespace().isEmpty) new java.io.File(ident.name())
    else new java.io.File(namespaceDir(ident.namespace()),
      validSegment(ident.name(), "table"))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array.empty // path-addressed: not enumerable
    else {
      val d = namespaceDir(namespace)
      if (!d.isDirectory)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
          namespace)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && GraftCatalog.schemaFile(f).isFile &&
          // MV backing/dist tables are internal storage, not user tables
          !f.getName.endsWith(GraftMv.DataSuffix) &&
          !f.getName.contains(GraftMv.DistMarker))
        .map(f => Identifier.of(namespace, f.getName)).sortBy(_.name())
    }

  override def tableExists(ident: Identifier): Boolean = {
    // named idents without a warehouse resolve to "no such table", not
    // an error — Spark probes tableExists while resolving views too
    if (ident.namespace().nonEmpty && warehouse.isEmpty) return false
    dirOf(ident).isDirectory
  }

  /** Resolve `path#<suffix>` / `ns.`t#<suffix>`` metadata-table
    * identifiers: returns the table directory when `ident` names a
    * metadata view, None when it is a plain data-table identifier. One
    * resolution for every metadata table and every loadTable overload —
    * keep the suffix/existence rules in exactly one place. */
  private def metaDirOf(ident: Identifier, suffix: String): Option[java.io.File] =
    if (ident.name().endsWith(suffix)) {
      val dir = dirOf(Identifier.of(ident.namespace(),
        ident.name().stripSuffix(suffix)))
      if (!dir.isDirectory) throw new NoSuchTableException(ident)
      Some(dir)
    } else None

  override def loadTable(ident: Identifier): Table = {
    // `mv#mvstate` (r17): the materialized view's one-row staleness
    // table (last folded version vs the base's published head)
    if (ident.name().endsWith("#mvstate") && ident.namespace().nonEmpty) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("#mvstate"))
      if (!mvExists(base)) throw new NoSuchTableException(ident)
      return new GraftMvStateTable(mvDefFileOf(base), mvDataDirOf(base),
        base.name())
    }
    // `path#history` (Iceberg's t.history idiom): one row per committed
    // version; `path#files` (t.files): the live-file inventory — the
    // user-visible window onto the per-file stats that file skipping
    // and the exact-numRows statistic run on
    metaDirOf(ident, "#history").foreach(d => return new JsonDocHistoryTable(d.getPath))
    metaDirOf(ident, "#files").foreach(d => return new JsonDocFilesTable(d.getPath))
    // `path#partitions` (t.partitions): the live partition inventory
    metaDirOf(ident, "#partitions").foreach(d =>
      return new JsonDocPartitionsTable(d.getPath))
    // `path#refs` (t.refs): the named-ref (tag) listing (r14)
    metaDirOf(ident, "#refs").foreach(d => return new JsonDocRefsTable(d.getPath))
    // `path#changes` (r15): the row-level change data feed over the full
    // published lineage; bounded ranges go through the reader options
    // (`readChanges` + `startingVersion`/`endingVersion`)
    metaDirOf(ident, "#changes").foreach { d =>
      val schema = GraftCatalog.readSchema(d)
        .getOrElse(JsonDocSource.infer(d.getPath))
      return new JsonDocChangesTable(d.getPath, schema)
    }
    val dir = dirOf(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    val schema = GraftCatalog.readSchema(dir)
      .getOrElse(JsonDocSource.infer(dir.getPath))
    new JsonDocTable(schema, dir.getPath)
  }

  /** `VERSION AS OF n` — a READ-ONLY table pinned to manifest n
    * (snapshot versioning, [[JsonDocVersions]]); a vacuumed or unknown
    * version fails loudly at scan planning, never silently partial.
    * A NON-integer version is a TAG name (r14, [[JsonDocRefs]]):
    * resolved to its version here, then read through the identical
    * pinned path — tags inherit every pinned-read guarantee. */
  override def loadTable(ident: Identifier, version: String): Table = {
    // `path#changes VERSION AS OF v` — the feed bounded to commits ≤ v
    // (startingVersion stays the first published commit; SQL's single
    // version slot maps naturally to the end bound)
    metaDirOf(ident, "#changes").foreach { d =>
      val v0 = JsonDocRefs.resolve(d.getPath, version)
      val schema = GraftCatalog.readSchema(d)
        .getOrElse(JsonDocSource.infer(d.getPath))
      return new JsonDocChangesTable(d.getPath, schema, endV = Some(v0))
    }
    // `path#files VERSION AS OF v` — the inventory of snapshot v
    // (retired files keep their sidecar entries so this stays exact)
    metaDirOf(ident, "#files").foreach { d =>
      val v0 = JsonDocRefs.resolve(d.getPath, version)
      if (JsonDocVersions.read(d.getPath, v0).isEmpty)
        throw new IllegalArgumentException(
          s"graft catalog: snapshot v$v0 of ${d.getPath} does not exist (vacuumed?)")
      return new JsonDocFilesTable(d.getPath, pinned = Some(v0))
    }
    val dir = dirOf(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    val v = JsonDocRefs.resolve(dir.getPath, version)
    val schema = GraftCatalog.readSchema(dir)
      .getOrElse(JsonDocSource.infer(dir.getPath))
    new JsonDocTable(schema, dir.getPath, pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF t` — resolves to the greatest version whose
    * manifest was committed at or before t (micros since epoch, the
    * TableCatalog contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    // `path#files TIMESTAMP AS OF t` — same resolution as the data table
    metaDirOf(ident, "#files").foreach { d =>
      val fv = JsonDocVersions.resolveAt(d.getPath,
          java.lang.Math.floorDiv(timestampMicros, 1000L))
        .getOrElse(throw new IllegalArgumentException(
          s"graft catalog: no snapshot of ${d.getPath} existed at timestamp $timestampMicros"))
      return new JsonDocFilesTable(d.getPath, pinned = Some(fv))
    }
    val dir = dirOf(ident)
    if (!dir.isDirectory) throw new NoSuchTableException(ident)
    val v = JsonDocVersions.resolveAt(dir.getPath,
        java.lang.Math.floorDiv(timestampMicros, 1000L))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: no snapshot of ${dir.getPath} existed at timestamp $timestampMicros"))
    val schema = GraftCatalog.readSchema(dir)
      .getOrElse(JsonDocSource.infer(dir.getPath))
    new JsonDocTable(schema, dir.getPath, pinnedVersion = Some(v))
  }

  /** COLUMN DEFAULTS capability (r15; completed r16 — Delta's model):
    * `DEFAULT <expr>` in CREATE TABLE / ADD COLUMN / `ALTER COLUMN ...
    * SET DEFAULT` is recorded in the schema sidecar's field metadata.
    * CURRENT_DEFAULT (the live expression — any constant expression,
    * CURRENT_TIMESTAMP included) is filled by Spark's analyzer into
    * INSERTs that omit the column; EXISTS_DEFAULT (frozen to a literal
    * at DDL time) is served by the READER for rows whose lines predate
    * the column — ADD COLUMN DEFAULT therefore works end-to-end: old
    * rows read the frozen value, new rows the insert-time fill, and the
    * change feed emits the filled values consistently (it wraps the
    * same readers). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // standard SQL constraint DDL (r15): ADD/DROP CONSTRAINT and
      // CREATE TABLE constraint clauses route to the same enforcement
      // the `constraint.*` property surface has carried since r14
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** CREATE TABLE with constraint clauses (r15): CHECKs persist under
    * the enforced `constraint.*` property surface; PRIMARY KEY / UNIQUE
    * / FOREIGN KEY are INFORMATIONAL (stored, surfaced, never enforced
    * — exactly their ANSI NOT ENFORCED reading, Delta's treatment). */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val props = new java.util.HashMap[String, String](info.properties())
    info.constraints().foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        props.put(GraftConstraints.Prefix + c.name(), c.predicateSql())
      case other =>
        require(!other.enforced(),
          s"graft catalog: ${other.name()} — only CHECK constraints are " +
            "enforced; declare PRIMARY KEY/UNIQUE/FOREIGN KEY as NOT ENFORCED")
        props.put(GraftCatalog.InfoConstraintPrefix + other.name(), other.toDDL())
    }
    createTable(ident, info.columns(), info.partitions(), props)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTable(ident,
      // keep DEFAULT metadata (the CURRENT_DEFAULT / EXISTS_DEFAULT
      // keys Spark's analyzer reads). EXISTS_DEFAULT freezes the
      // DDL-time VALUE (r16): a table born with defaults has no
      // pre-default rows from its own writers, but freezing validates
      // the expression and keeps the key literal-only everywhere the
      // reader consults it
      StructType(columns.map { c =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        Option(c.metadataInJSON()).foreach(j =>
          mb.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
        Option(c.defaultValue()).foreach { d =>
          val (frozen, orig) =
            GraftCatalog.freezeDefault(d.getSql, c.dataType, c.name)
          mb.putString("CURRENT_DEFAULT", orig)
          mb.putString("EXISTS_DEFAULT", frozen)
        }
        StructField(c.name, c.dataType, c.nullable, mb.build())
      }),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (col | days(col) | bucket(n, col), ...) — identity,
    // time, and hash transforms (r14; identity-only in r13): Hive-style
    // `<dir>=<value>` layout where the directory name encodes the
    // transform (`col=v`, `col_day=2024-01-15`, `col_bucket=3`), pruned
    // at plan time before any stats I/O. Other transforms stay refused
    // loudly rather than silently identity-ized.
    def colOf(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"graft catalog: partition transform needs one top-level column, got $t")
      refs.head.fieldNames().head
    }
    val partSpecs: Seq[GraftCatalog.PartField] = partitions.toSeq.map { t =>
      t.name() match {
        case "identity" => GraftCatalog.validatedPartField(schema, colOf(t), "identity", 0)
        case tn if GraftTransforms.TimePrefixLen.contains(tn) =>
          GraftCatalog.validatedPartField(schema, colOf(t), tn, 0)
        case tn @ ("bucket" | "truncate") =>
          // BucketTransform/ApplyTransform: arguments = [Literal(n), column]
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value() match {
                case i: java.lang.Integer => i.intValue()
                case l2: java.lang.Long => l2.intValue()
              }
          }.getOrElse(throw new IllegalArgumentException(
            s"graft catalog: $tn() needs a literal count/width: $t"))
          GraftCatalog.validatedPartField(schema, colOf(t), tn, n)
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported partition transform '$other' " +
            "(supported: identity, years, months, days, hours, bucket, truncate)")
      }
    }
    val partCols = partSpecs.map(_.field.name)
    require(partSpecs.map(_.dirName).distinct.length == partSpecs.length,
      s"graft catalog: duplicate partition columns: ${partCols.mkString(", ")}")
    val bad = schema.fields.filterNot(f => JsonDocSource.supportedType(f.dataType))
    require(bad.isEmpty,
      "graft-jsondoc supports long/int/double/boolean/string fields only; unsupported: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    // a NAMED create (r16) needs its namespace created first (standard
    // catalog contract) and must not shadow a view of the same name
    if (ident.namespace().nonEmpty) {
      if (!namespaceDir(ident.namespace()).isDirectory)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
          ident.namespace())
      require(!viewFileOf(ident).isFile,
        s"graft catalog: a view named ${ident.name()} already exists")
      require(!mvDefFileOf(ident).isFile,
        s"graft catalog: a materialized view named ${ident.name()} already exists")
    }
    val dir = dirOf(ident)
    if (GraftCatalog.schemaFile(dir).exists()) throw new TableAlreadyExistsException(ident)
    if (!dir.isDirectory && !dir.mkdirs())
      throw new java.io.IOException(s"cannot create table directory $dir")
    // TBLPROPERTIES persist in the schema sidecar (r14) minus the
    // engine-reserved keys Spark injects on every CREATE; the binding
    // consumer today is `write.rowlevel.mode = merge-on-read`
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProps
    // CHECK constraints declared at CREATE validate like ALTER's (r14)
    if (props.keys.exists(_.startsWith(GraftConstraints.Prefix)))
      GraftConstraints.compile(org.apache.spark.sql.SparkSession.active,
        schema, props)
    // bloom-column and shred declarations validate at CREATE too (r16)
    props.get(JsonDocBlooms.PropCols).foreach(JsonDocBlooms.validateDecl(_, schema))
    props.get(JsonDocShred.PropKey).foreach(JsonDocShred.validateDecl(_, schema))
    GraftCatalog.writeSchema(dir, schema, partitions = partSpecs, props = props)
    new JsonDocTable(schema, dir.getPath)
  }

  /** SCHEMA EVOLUTION without rewriting a byte of data (r12): the
    * declared schema lives in the `_table_schema.json` sidecar, and the
    * reader nulls fields a JSON line doesn't carry — so ADD COLUMN is a
    * sidecar update (old files read NULL for the new column, exactly
    * parquet-mergeSchema's contract) and DROP COLUMN likewise (the
    * column simply stops being projected; bytes in old files are inert,
    * the same lazy deletion every lakehouse format uses). r13 added
    * safe type widening (int → bigint), r14 RENAME via name mapping;
    * nested paths, narrowing, and partition-column changes stay refused
    * loudly rather than half-done. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!GraftCatalog.schemaFile(dir).isFile)
      throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE requires a catalog-created table " +
          s"(no schema sidecar in $dir — bare-writer directories resolve " +
          "for reads but cannot be altered)")
    var (schema, dropped) = GraftCatalog.readSchemaAndDropped(dir).get
    var props = GraftCatalog.tablePropsOf(dir.getPath)
    var renames = GraftCatalog.renamesOf(dir.getPath)
    val partSpec = GraftCatalog.partitionSpecOf(dir.getPath)
    val partCols = partSpec.map(_.field.name)
    def requireNotPartition(name: String, what: String): Unit =
      require(!partCols.contains(name),
        s"graft catalog: cannot $what partition column $name — the value is " +
          "baked into every directory name; rewrite the table into a new layout instead")
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported: ${add.fieldNames().mkString(".")}")
        val name = add.fieldNames().head
        require(JsonDocSource.supportedType(add.dataType()),
          s"graft-jsondoc supports long/int/double/boolean/string fields only: " +
            s"$name: ${add.dataType().simpleString}")
        require(!schema.fieldNames.contains(name),
          s"graft catalog: column $name already exists")
        require(!dropped.contains(name),
          s"graft catalog: column $name was previously dropped; its bytes " +
            "are inert in old files and re-adding the name would silently " +
            "resurface pre-drop values — use a new name")
        require(add.isNullable,
          s"graft catalog: a column added to existing data must be nullable: $name")
        // ADD COLUMN ... DEFAULT (r16 — closes the r15 refusal with
        // Delta's actual model): the default is FROZEN here into a
        // literal EXISTS_DEFAULT, which the reader serves for rows whose
        // lines predate the column (a truly absent JSON key; post-add
        // writers always materialize the field, explicit null included,
        // so absence is unambiguous provenance). CURRENT_DEFAULT keeps
        // the original expression for future INSERT fills.
        val meta = Option(add.defaultValue()).map { d =>
          val (frozen, orig) =
            GraftCatalog.freezeDefault(d.getSql, add.dataType(), name)
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", orig)
            .putString("EXISTS_DEFAULT", frozen)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        schema = schema.add(
          StructField(name, add.dataType(), nullable = true, meta))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported: ${del.fieldNames().mkString(".")}")
        val name = del.fieldNames().head
        requireNotPartition(name, "drop")
        if (!schema.fieldNames.contains(name)) {
          if (del.ifExists() == java.lang.Boolean.TRUE) ()
          else throw new IllegalArgumentException(
            s"graft catalog: no such column to drop: $name")
        } else {
          schema = StructType(schema.fields.filterNot(_.name == name))
          dropped += name
        }
      case upd: TableChange.UpdateColumnType =>
        // SAFE WIDENING only (r13, Iceberg's promotion rule restricted
        // to this source's types): int -> long is exact for every value
        // any old file can hold, so the sidecar records the wider type
        // and old files' narrower JSON tokens read correctly with zero
        // rewrite (the reader parses by DECLARED type; the stats
        // accumulator already stored int mins/maxes as longs, so
        // pruning ranges stay valid too). Everything else — narrowing,
        // cross-family, anything lossy — is refused loudly.
        require(upd.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported: ${upd.fieldNames().mkString(".")}")
        val name = upd.fieldNames().head
        requireNotPartition(name, "retype")
        val idx = schema.fieldNames.indexOf(name)
        require(idx >= 0, s"graft catalog: no such column to alter: $name")
        val from = schema.fields(idx).dataType
        val to = upd.newDataType()
        val widening = (from, to) match {
          case (a, b) if a == b => true // idempotent DDL replay
          case (org.apache.spark.sql.types.IntegerType,
                org.apache.spark.sql.types.LongType) => true
          case _ => false
        }
        require(widening,
          s"graft catalog: only safe type widening is supported (int -> bigint); " +
            s"refusing $name: ${from.simpleString} -> ${to.simpleString}")
        schema = StructType(schema.fields.updated(idx,
          schema.fields(idx).copy(dataType = to)))
      case set: TableChange.SetProperty =>
        require(!GraftCatalog.ReservedProps.contains(set.property()),
          s"graft catalog: ${set.property()} is engine-reserved")
        // a CHECK constraint is validated at DECLARATION (r14): a typo'd
        // column or non-boolean expression refuses here, not first write
        if (set.property().startsWith(GraftConstraints.Prefix))
          GraftConstraints.compile(org.apache.spark.sql.SparkSession.active,
            schema, Map(set.property() -> set.value()))
        if (set.property() == JsonDocBlooms.PropCols)
          JsonDocBlooms.validateDecl(set.value(), schema)
        if (set.property() == JsonDocShred.PropKey)
          JsonDocShred.validateDecl(set.value(), schema)
        props += (set.property() -> set.value())
      case rm: TableChange.RemoveProperty =>
        props -= rm.property()
      case ren: TableChange.RenameColumn =>
        // RENAME via NAME MAPPING (r14 — the r13 "refused loudly" gap,
        // Iceberg's name-mapping model: a JSON line carries NAMES, not
        // field ids, so the sidecar records each column's former names
        // and the reader falls back through them, newest first). Old
        // files are never rewritten; the OLD name joins the tombstones
        // so re-ADDing it can't resurface pre-rename values under a new
        // meaning; stats entries keyed by the old name simply stop
        // pruning (conservative, never wrong).
        require(ren.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported: ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames().head
        val to = ren.newName()
        requireNotPartition(from, "rename")
        val idx = schema.fieldNames.indexOf(from)
        require(idx >= 0, s"graft catalog: no such column to rename: $from")
        require(!schema.fieldNames.contains(to),
          s"graft catalog: column $to already exists")
        require(!dropped.contains(to),
          s"graft catalog: column $to was previously dropped; its bytes are " +
            "inert in old files and renaming onto the name would silently " +
            "resurface pre-drop values — use a new name")
        schema = StructType(schema.fields.updated(idx, schema.fields(idx).copy(name = to)))
        renames += (to -> (from +: renames.getOrElse(from, Seq.empty)))
        renames -= from
        dropped += from
      case upd: TableChange.UpdateColumnDefaultValue =>
        // SET / DROP DEFAULT (r15; widened r16): the default is a
        // WRITE-side fill Spark's analyzer applies to INSERTs that omit
        // the column — recorded as CURRENT_DEFAULT field metadata in
        // the sidecar (DataType.fromJson round-trips metadata). Beyond
        // literals, any CONSTANT expression (no column references) that
        // casts to the column type is accepted (r16) — including
        // CURRENT_TIMESTAMP shapes, which Spark evaluates ONCE PER
        // INSERT STATEMENT (ComputeCurrentTime), the ANSI reading; a
        // streaming replay re-evaluates them exactly as it would a
        // current_timestamp() in the query itself. Validation runs the
        // expression here, so a misteypd or uncastable default refuses
        // at DDL. EXISTS_DEFAULT is untouched: SET DEFAULT after birth
        // never rewrites history (pre-default rows keep reading NULL —
        // or their frozen ADD COLUMN default).
        require(upd.fieldNames().length == 1,
          s"graft catalog: nested columns are not supported: ${upd.fieldNames().mkString(".")}")
        val name = upd.fieldNames().head
        val idx = schema.fieldNames.indexOf(name)
        require(idx >= 0, s"graft catalog: no such column to alter: $name")
        val sql = Option(upd.newCurrentDefault()).map(_.getSql)
          .orElse(Option(upd.newDefaultValue())).map(_.trim).filter(_.nonEmpty)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(schema.fields(idx).metadata)
        sql match {
          case None => // DROP DEFAULT
            mb.remove("CURRENT_DEFAULT")
            mb.remove("EXISTS_DEFAULT")
          case Some(s) =>
            GraftCatalog.freezeDefault(s, schema.fields(idx).dataType, name)
            mb.putString("CURRENT_DEFAULT", s)
        }
        schema = StructType(schema.fields.updated(idx,
          schema.fields(idx).copy(metadata = mb.build())))
      case add: TableChange.AddConstraint =>
        // standard SQL `ALTER TABLE ADD CONSTRAINT` (r15): a CHECK joins
        // the enforced `constraint.*` surface (validated by the real
        // analyzer here, enforced per row by every writer); the key
        // constraints are informational-only, their ANSI NOT ENFORCED
        // reading. Spark validates existing rows before this call and
        // reports the version via validatedTableVersion — the sidecar
        // just persists.
        add.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val key = GraftConstraints.Prefix + c.name()
            require(!props.contains(key),
              s"graft catalog: constraint ${c.name()} already exists")
            GraftConstraints.compile(org.apache.spark.sql.SparkSession.active,
              schema, Map(key -> c.predicateSql()))
            props += (key -> c.predicateSql())
          case other0 =>
            require(!other0.enforced(),
              s"graft catalog: ${other0.name()} — only CHECK constraints are " +
                "enforced; declare PRIMARY KEY/UNIQUE/FOREIGN KEY as NOT ENFORCED")
            props += (GraftCatalog.InfoConstraintPrefix + other0.name() ->
              other0.toDDL())
        }
      case drop: TableChange.DropConstraint =>
        val key = GraftConstraints.Prefix + drop.name()
        val ikey = GraftCatalog.InfoConstraintPrefix + drop.name()
        if (props.contains(key)) props -= key
        else if (props.contains(ikey)) props -= ikey
        else if (!drop.ifExists())
          throw new IllegalArgumentException(
            s"graft catalog: no such constraint to drop: ${drop.name()}")
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change: $other")
    }
    // bloom/shred declarations must survive the FINAL schema (r16
    // self-review): a RENAME or DROP of a referenced column would
    // otherwise silently stop building filters — and a shred whose
    // SOURCE vanished would start writing NULL subcolumns. Refuse
    // loudly; update the property in the same statement set first.
    props.get(JsonDocBlooms.PropCols).foreach(JsonDocBlooms.validateDecl(_, schema))
    props.get(JsonDocShred.PropKey).foreach(JsonDocShred.validateDecl(_, schema))
    GraftCatalog.writeSchema(dir, schema, dropped, partitions = partSpec,
      props = props, renames = renames)
    new JsonDocTable(schema, dir.getPath)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!dir.isDirectory) false
    else {
      // refuse BEFORE deleting anything: an unexpected subdirectory
      // means this is not a plain jsondoc table dir (stray checkpoint,
      // or a mistaken parent path) — deleting the files first and then
      // failing the rmdir would destroy data while reporting the drop
      // failed. `col=value` directories are the table's OWN partition
      // layout (r13) and are checked recursively by the same rule.
      def check(d: java.io.File): Unit = {
        val entries = Option(d.listFiles()).getOrElse(Array.empty)
        val badDirs = entries.filter(e => e.isDirectory && !e.getName.contains('='))
        require(badDirs.isEmpty,
          s"graft catalog: refusing to drop $dir — it contains " +
            s"non-partition subdirectories (${badDirs.map(_.getName).mkString(", ")})")
        entries.filter(_.isDirectory).foreach(check)
      }
      check(dir)
      // propagate deletion failures (advice r13): a partially-deleted
      // table (permission-denied file, still-open handle) must not
      // report a successful drop — the catalog would claim the table is
      // gone while its files remain readable
      def purge(d: java.io.File): Unit = {
        Option(d.listFiles()).getOrElse(Array.empty).foreach { e =>
          if (e.isDirectory) purge(e)
          else if (!e.delete())
            throw new java.io.IOException(s"graft catalog: DROP TABLE failed to delete $e")
        }
        if (!d.delete())
          throw new java.io.IOException(s"graft catalog: DROP TABLE failed to delete directory $d")
      }
      purge(dir)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog: RENAME TABLE is not supported")

  // ------------------------------------------------------------------
  // NAMESPACES (r16): directories under the warehouse root. A namespace
  // is just a directory — CREATE mkdirs it, DROP requires it empty of
  // tables/views unless CASCADE, and nesting works by path composition.

  override def listNamespaces(): Array[Array[String]] = {
    val wh = warehouseOrFail
    Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => Array(f.getName)).sortBy(_.head)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = namespaceDir(namespace)
    if (!d.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      // a TABLE directory is not a namespace — don't enumerate it as one
      .filter(f => f.isDirectory && !GraftCatalog.schemaFile(f).isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".") &&
        !f.getName.contains('='))
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.nonEmpty && warehouse.isDefined && namespaceDir(namespace).isDirectory

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val d = namespaceDir(namespace)
    if (!d.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      org.apache.spark.sql.connector.catalog.SupportsNamespaces.PROP_LOCATION,
      d.getAbsolutePath)
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = namespaceDir(namespace)
    if (d.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(
        namespace)
    if (!d.mkdirs())
      throw new java.io.IOException(s"graft catalog: cannot create namespace directory $d")
  }

  override def alterNamespace(namespace: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported (namespaces are plain directories)")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = namespaceDir(namespace)
    if (!d.isDirectory) return false
    val entries = Option(d.listFiles()).getOrElse(Array.empty)
    if (!cascade && entries.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
        namespace, "the namespace is not empty", None)
    // CASCADE: drop tables/views through their own (fail-loud) paths
    entries.foreach { e =>
      if (e.isDirectory && GraftCatalog.schemaFile(e).isFile)
        dropTable(Identifier.of(namespace, e.getName))
      else if (e.isFile && e.getName.endsWith(GraftCatalog.ViewFileSuffix)) {
        if (!e.delete()) throw new java.io.IOException(
          s"graft catalog: DROP NAMESPACE failed to delete view $e")
      } else if (e.isDirectory)
        dropNamespace(namespace :+ e.getName, cascade = true)
      else if (!e.delete()) throw new java.io.IOException(
        s"graft catalog: DROP NAMESPACE failed to delete $e")
    }
    if (!d.delete())
      throw new java.io.IOException(s"graft catalog: DROP NAMESPACE failed to delete $d")
    true
  }

  // ------------------------------------------------------------------
  // VIEWS (r16, [[ViewCatalog]]): analyzer-expanded SQL persisted as a
  // `<name>.view.json` FILE in the namespace directory — a file, not a
  // directory, so a view can never be mistaken for a table by
  // tableExists/loadTable, and the two creation paths cross-refuse.
  // Spark re-analyzes `query()` under the stored catalog/namespace
  // context at every reference, so a view sees the LIVE table — the
  // standard (non-materialized) SQL view contract.

  // ---- materialized views (r17, [[GraftMv]]) --------------------------

  private[graft] def mvDefFileOf(ident: Identifier): java.io.File =
    new java.io.File(namespaceDir(ident.namespace()),
      validSegment(ident.name(), "materialized view") + GraftMv.DefSuffix)

  private[graft] def mvDataDirOf(ident: Identifier): java.io.File =
    new java.io.File(namespaceDir(ident.namespace()),
      validSegment(ident.name(), "materialized view") + GraftMv.DataSuffix)

  def mvExists(ident: Identifier): Boolean =
    ident.namespace().nonEmpty && warehouse.isDefined && mvDefFileOf(ident).isFile

  private[graft] def listMvs(namespace: Array[String]): Array[Identifier] = {
    val d = namespaceDir(namespace)
    if (!d.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(GraftMv.DefSuffix))
      .map(f => Identifier.of(namespace,
        f.getName.stripSuffix(GraftMv.DefSuffix))).sortBy(_.name())
  }

  /** Every materialized view in this warehouse whose base is
    * `basePath`, with its parsed definition — the candidate set for
    * the MV query rewrite ([[graft.plans.RewriteOntoMv]]). A catalog
    * without a warehouse has no MVs and answers instantly (the common
    * non-DDL session). The namespace-tree walk + JSON parses are
    * cached per [[GraftMv.ddlEpoch]] — aggregates that match no MV pay
    * ZERO filesystem I/O in steady state, instead of a warehouse walk
    * per analyzed query. */
  private[graft] def mvsOnBase(basePath: String): Seq[(Identifier, GraftMv.MvDef)] = {
    if (warehouse.isEmpty) return Seq.empty
    val epoch = GraftMv.ddlEpoch.get()
    val cached = mvDefCache
    val all =
      if (cached != null && cached._1 == epoch) cached._2
      else {
        def walk(ns: Array[String]): Seq[Identifier] =
          listMvs(ns).toSeq ++ listNamespaces(ns).flatMap(walk)
        val fresh = listNamespaces().flatMap(walk).toSeq
          .map { ident =>
            val json = java.nio.file.Files.readString(mvDefFileOf(ident).toPath)
            // parse and fingerprint the SAME bytes: a stat-based pair
            // could match a foreign rewrite landing between read and
            // stat, and mtime granularity can miss a same-length swap
            (ident, GraftMv.parse(json), defSignature(json))
          }
        mvDefCache = (epoch, fresh)
        fresh
      }
    val canonical = new java.io.File(basePath).getAbsolutePath
    // ddlEpoch only sees THIS JVM's DDL: another process may have
    // DROPped and re-CREATEd an MV with a different body, and matching
    // the stale definition against the new backing's data would serve
    // wrong rows. Re-read each basePath-matched candidate's def (defs
    // are ~1 KB; the matched set is tiny) and compare content hashes;
    // a vanished or retargeted def just stops being a candidate.
    all.filter(_._2.basePath == canonical).flatMap { case (ident, defn, sig) =>
      try {
        val json = java.nio.file.Files.readString(mvDefFileOf(ident).toPath)
        if (defSignature(json) == sig) Some(ident -> defn)
        else {
          val fresh = GraftMv.parse(json)
          if (fresh.basePath == canonical) Some(ident -> fresh) else None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Content fingerprint of an MV def — the staleness check for
    * [[mvsOnBase]]'s per-epoch cache against cross-process DDL. */
  private def defSignature(json: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < json.length) { h = 31 * h + json.charAt(i); i += 1 }
    h
  }

  @volatile private var mvDefCache:
      (Long, Seq[(Identifier, GraftMv.MvDef, Long)]) = _

  private def viewFileOf(ident: Identifier): java.io.File =
    new java.io.File(namespaceDir(ident.namespace()),
      validSegment(ident.name(), "view") + GraftCatalog.ViewFileSuffix)

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().nonEmpty && warehouse.isDefined && viewFileOf(ident).isFile

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val d = namespaceDir(ns)
    if (!d.isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ns)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(GraftCatalog.ViewFileSuffix))
      .map(f => Identifier.of(ns,
        f.getName.stripSuffix(GraftCatalog.ViewFileSuffix))).sortBy(_.name())
  }

  override def loadView(ident: Identifier):
      org.apache.spark.sql.connector.catalog.View = {
    if (ident.namespace().isEmpty || warehouse.isEmpty || !viewFileOf(ident).isFile)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftCatalog.readView(viewFileOf(ident), ident)
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo):
      org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(ident.namespace().nonEmpty,
      s"graft catalog: views need a namespace (got ${ident.toString}) — " +
        "CREATE NAMESPACE first, then CREATE VIEW <catalog>.<ns>.<name>")
    if (!namespaceDir(ident.namespace()).isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        ident.namespace())
    require(!dirOf(ident).isDirectory,
      s"graft catalog: a table named ${ident.name()} already exists")
    require(!mvDefFileOf(ident).isFile,
      s"graft catalog: a materialized view named ${ident.name()} already exists")
    val f = viewFileOf(ident)
    if (f.isFile)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    GraftCatalog.writeView(f, info)
    GraftCatalog.readView(f, ident)
  }

  /** CREATE OR REPLACE's swap (r17, advice item 3): same validation as
    * [[createView]] but an existing definition is overwritten by
    * [[GraftCatalog.writeView]]'s tmp+atomic-rename — never a pre-drop,
    * so a crash mid-replace leaves the OLD view intact instead of none. */
  private[graft] def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo):
      org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(ident.namespace().nonEmpty,
      s"graft catalog: views need a namespace (got ${ident.toString})")
    if (!namespaceDir(ident.namespace()).isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        ident.namespace())
    require(!dirOf(ident).isDirectory,
      s"graft catalog: a table named ${ident.name()} already exists")
    require(!mvDefFileOf(ident).isFile,
      s"graft catalog: a materialized view named ${ident.name()} already exists")
    val f = viewFileOf(ident)
    GraftCatalog.writeView(f, info)
    GraftCatalog.readView(f, ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*):
      org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER VIEW is not supported — DROP and re-CREATE")

  override def dropView(ident: Identifier): Boolean = {
    if (ident.namespace().isEmpty || warehouse.isEmpty) return false
    val f = viewFileOf(ident)
    f.isFile && {
      if (!f.delete())
        throw new java.io.IOException(s"graft catalog: DROP VIEW failed to delete $f")
      true
    }
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val src = viewFileOf(oldIdent)
    if (!src.isFile)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    val dst = viewFileOf(newIdent)
    if (dst.isFile)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    if (!namespaceDir(newIdent.namespace()).isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        newIdent.namespace())
    if (!src.renameTo(dst))
      throw new java.io.IOException(
        s"graft catalog: RENAME VIEW failed: $src -> $dst")
  }
}

object GraftCatalog {
  val ViewFileSuffix = ".view.json"

  /** Persist a view definition (r16): everything [[ViewCatalog]] needs
    * to re-analyze the stored SQL under its original resolution context
    * — the query text, the catalog/namespace it was created under
    * (unqualified names in the SQL re-resolve there, the standard view
    * contract), the analyzed schema, and the column metadata. Atomic
    * tmp+rename like every sidecar. */
  private[sources] def writeView(f: java.io.File,
      info: org.apache.spark.sql.connector.catalog.ViewInfo): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("sql", info.sql())
    root.put("currentCatalog", info.currentCatalog())
    val ns = root.putArray("currentNamespace")
    info.currentNamespace().foreach(ns.add)
    root.put("schema", info.schema().json)
    val qc = root.putArray("queryColumnNames")
    Option(info.queryColumnNames()).getOrElse(Array.empty).foreach(qc.add)
    val ca = root.putArray("columnAliases")
    Option(info.columnAliases()).getOrElse(Array.empty).foreach(ca.add)
    val cc = root.putArray("columnComments")
    Option(info.columnComments()).getOrElse(Array.empty).foreach(c =>
      cc.add(Option(c).getOrElse("")))
    val props = root.putObject("properties")
    Option(info.properties()).foreach(_.asScala.foreach { case (k, v) =>
      props.put(k, v); () })
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.writeString(tmp.toPath, mapper.writeValueAsString(root),
      java.nio.charset.StandardCharsets.UTF_8)
    // ATOMIC swap (r17, advice item 3): a delete-then-rename pair leaves
    // NO view at all if the process dies between the two — REPLACE must
    // expose exactly the old definition or exactly the new one
    try java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // non-POSIX fallback: best effort, same end state
        if (f.exists()) f.delete()
        if (!tmp.renameTo(f))
          throw new java.io.IOException(s"graft catalog: view write failed for $f")
    }
  }

  private[sources] def readView(f: java.io.File, ident: Identifier):
      org.apache.spark.sql.connector.catalog.View = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(f.toPath,
        java.nio.charset.StandardCharsets.UTF_8))
    def arr(key: String): Array[String] =
      Option(root.get(key)).map(_.elements().asScala.map(_.asText()).toArray)
        .getOrElse(Array.empty)
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = ident.toString
      override def query(): String = root.get("sql").asText()
      override def currentCatalog(): String = root.get("currentCatalog").asText()
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType =
        DataType.fromJson(root.get("schema").asText()).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): util.Map[String, String] =
        Option(root.get("properties")).map { p =>
          val m = new java.util.HashMap[String, String]()
          p.fields().asScala.foreach(e => m.put(e.getKey, e.getValue.asText()))
          m
        }.getOrElse(new java.util.HashMap[String, String]())
    }
  }

  /** DEFAULT validation + DDL-time freezing (r16): a DEFAULT must be a
    * CONSTANT expression (no column references; the ANSI niladic
    * CURRENT_TIMESTAMP/CURRENT_DATE/CURRENT_USER names pass — the
    * analyzer resolves them specially) that analyzes, evaluates, and
    * casts to the column type. Returns (frozen literal SQL of the value
    * as evaluated NOW, original SQL): EXISTS_DEFAULT stores the frozen
    * form — the value history promises pre-existing rows, pinned at DDL
    * time exactly like Delta — while CURRENT_DEFAULT keeps the live
    * expression for Spark's per-INSERT fill. */
  private[sources] def freezeDefault(sql0: String,
      dt: DataType, col: String): (String, String) = {
    val sql = sql0.trim
    val spark = org.apache.spark.sql.SparkSession.active
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"graft catalog: cannot parse DEFAULT for $col: $sql (${e.getMessage})") }
    val niladic = Set("current_timestamp", "current_date", "current_user")
    val colRefs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        if !niladic(a.name.toLowerCase(java.util.Locale.ROOT)) => a.name
    }
    require(colRefs.isEmpty,
      s"graft catalog: DEFAULT for $col must be a constant expression; " +
        s"it references: ${colRefs.mkString(", ")}")
    val v =
      try {
        val df = spark.range(1)
          .select(org.apache.spark.sql.functions.expr(s"CAST(($sql) AS ${dt.sql})"))
        // DETERMINISTIC expressions only: CURRENT_TIMESTAMP passes (it
        // is statement-deterministic — ComputeCurrentTime pins it once
        // per execution, the ANSI reading); rand() and friends refuse —
        // a default whose value differs row-to-row is not a default
        val analyzed = df.queryExecution.analyzed.expressions.head
        require(analyzed.deterministic,
          s"graft catalog: DEFAULT for $col must be deterministic, got: $sql")
        df.collect()(0).get(0)
      } catch {
        case e: IllegalArgumentException => throw e
        case e: Exception => throw new IllegalArgumentException(
          s"graft catalog: DEFAULT for $col does not evaluate and cast to " +
            s"${dt.simpleString}: $sql (${e.getMessage})")
      }
    (org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt).sql, sql)
  }

  /** Existence defaults for a TABLE PATH: the catalog sidecar's schema
    * is authoritative when present, so a bare
    * `spark.read.format(...).schema(...)` read (whose user-declared
    * schema carries no metadata) serves the SAME frozen defaults a
    * catalog read does — two read APIs must never disagree on a row's
    * values. Falls back to the handed-in schema's metadata for
    * sidecar-less directories. */
  private[sources] def existsDefaultsForTable(path: String,
      handed: StructType): Map[String, Any] =
    readSchema(new java.io.File(path)).map(existsDefaultsOf)
      .getOrElse(existsDefaultsOf(handed))

  /** The frozen EXISTS_DEFAULT of each field, decoded to the reader's
    * runtime shape (Long/Int/Double/Boolean/String). Driver-side, once
    * per scan; an unevaluable frozen literal throws loudly — serving
    * NULL where history promised a value would be silently wrong. */
  private[sources] def existsDefaultsOf(schema: StructType): Map[String, Any] =
    schema.fields.flatMap { f =>
      if (!f.metadata.contains("EXISTS_DEFAULT")) None
      else {
        val sql = f.metadata.getString("EXISTS_DEFAULT")
        val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sql)
        val v = org.apache.spark.sql.catalyst.expressions.Cast(
          parsed, f.dataType, Some("UTC")).eval(null)
        Option[Any](v).map {
          case u: org.apache.spark.unsafe.types.UTF8String => f.name -> u.toString
          case other => f.name -> other
        }
      }
    }.toMap

  /** One partition-spec entry: the SOURCE column, the transform, and
    * (bucket only) the bucket count. `dirName` is the Hive-style
    * directory key — transform-qualified so `days(ts)` can never
    * collide with an identity layout on `ts`. */
  final case class PartField(field: StructField,
      transform: String = "identity", buckets: Int = 0) {
    def dirName: String = transform match {
      case "identity" => field.name
      case "years" => s"${field.name}_year"
      case "months" => s"${field.name}_month"
      case "days" => s"${field.name}_day"
      case "hours" => s"${field.name}_hour"
      case "bucket" => s"${field.name}_bucket"
      case "truncate" => s"${field.name}_trunc"
    }
    /** The directory-component's VALUE type (what `decPartValue` parses
      * `dirName=<v>` with): time-grain strings and bucket ints, else
      * source. */
    def dirType: DataType = transform match {
      case "identity" => field.dataType
      case "bucket" => IntegerType
      case "truncate" => field.dataType // order-preserving within the source type
      case _ => StringType
    }
  }
  /** Reclaim disk from retired snapshots: keep the last `keepLast`
    * manifests, delete every older manifest and every data file no kept
    * manifest references. Returns the deleted data-file names. Reading
    * a vacuumed version afterwards fails loudly
    * ([[JsonDocVersions.liveSet]]'s strict pinned path). Legacy
    * manifest-less directories are untouched. */
  def vacuum(path: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "vacuum must keep at least the latest version")
    val all = JsonDocVersions.manifests(path)
    if (all.isEmpty) return Seq.empty
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepLast))
    reclaim(path, drop.toSeq, keep.toSeq)
  }

  /** TIME-BASED retention (r13, the real-world form of [[vacuum]]):
    * expire every snapshot whose manifest was committed BEFORE
    * `olderThanMillis`, always keeping the current version (and
    * everything newer than the cutoff). The count-based `keep_last` is
    * a dev convenience; retention policies are stated in time ("keep
    * 7 days"), and the two share one reclaim path so their guarantees
    * cannot drift: reading an expired version afterwards fails loudly
    * (`VERSION AS OF` hits [[JsonDocVersions.liveSet]]'s strict pinned
    * path), newer snapshots stay fully time-travelable. */
  def expireSnapshots(path: String, olderThanMillis: Long): Seq[String] = {
    val all = JsonDocVersions.manifests(path)
    if (all.isEmpty) return Seq.empty
    // the latest manifest is never expirable, whatever its age
    val (history, current) = all.splitAt(all.length - 1)
    val (drop, keepOld) = history.partition(v =>
      JsonDocVersions.mtime(path, v).exists(_ < olderThanMillis))
    reclaim(path, drop.toSeq, (keepOld ++ current).toSeq)
  }

  /** ROLLBACK to snapshot `v` (r14 — Iceberg's
    * `rollback_to_snapshot` / Delta RESTORE idiom): commits a NEW
    * manifest whose live set and delete-vector map equal v's, verbatim.
    * Metadata-only — no data file is copied, moved, or rewritten; the
    * rolled-back-over versions stay in history (time-travelable,
    * auditable) until retention reclaims them, and the rollback itself
    * is one more auditable commit, not an erasure. Requires v's
    * manifest to still exist (a vacuumed basis fails loudly — rollback
    * restores state that is still provably on disk, it cannot resurrect
    * reclaimed bytes); every restored file is double-checked present.
    * A checkpointed streaming consumer over the table sees the live-set
    * shrink and aborts loudly (validateAppendOnly), never silently
    * re-delivers. The applied-transaction map carries FORWARD from the
    * latest version (not v's): a crashed MV epoch replayed after a
    * rollback must still SKIP (its ledger entry survives), because
    * re-applying into the restored state could double-fold work the
    * restored live set already contains. The operator's contract is
    * therefore: rolling back an incrementally-maintained view undoes
    * the folds since v and they STAY undone — rebuild from a fresh
    * checkpoint to re-ingest, don't replay into a rollback. Returns
    * the new version. */
  def rollback(path: String, v: Int): Int = {
    val live = JsonDocVersions.read(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft-jsondoc: cannot roll back $path to v$v — no such committed " +
          "version (expired, vacuumed, or never existed)"))
    // a STAGED snapshot was never the current table; "rolling back" to
    // it would pointer-flip its whole live set over later published
    // work — the thing publish's delta re-application exists to avoid
    require(!JsonDocVersions.readStaged(path, v),
      s"graft-jsondoc: v$v of $path is a staged snapshot, not table history — " +
        "use CALL publish to apply it")
    val missing = live.filterNot(n => new java.io.File(path, n).isFile)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"graft-jsondoc: rollback of $path to v$v would reference missing data " +
          s"files (${missing.take(3).mkString(", ")}) — the directory was " +
          "corrupted or manually cleaned")
    // restore the target's FULL sequencing state: DV map, per-file
    // added-at versions (equality-delete applicability), and the eq
    // list itself — rollback is "that snapshot, verbatim", not "those
    // files under today's delete state"
    val target = JsonDocVersions.state(path, v).get
    JsonDocVersions.commit(path, live,
      dvsOverride = Some(target.dvs),
      addedAtOverride = Some(target.addedAt),
      eqsOverride = Some(target.eqs), op = "rollback")
  }

  /** PUBLISH a staged (write-audit-publish) snapshot (r14): re-apply
    * staged version v's delta — live-set and delete-vector changes
    * against its recorded parent — as a PUBLISHED commit on the current
    * table. The WAP flow this completes: write with the `staged` write
    * option (or `write.wap.staged = true` table property) → the commit
    * lands invisible to every current read → audit it via
    * `VERSION AS OF v` (or tag it) → `CALL publish(path, v)` makes it
    * current, or simply never publish and let retention reclaim it.
    * Publishing is delta re-application, not a pointer flip, so work
    * committed AFTER the stage (appends, compactions) survives; the
    * usual OCC refusals fire when the staged delta genuinely conflicts
    * (it retires a file a published rewrite already retired, or a
    * retired file's DV moved since the stage). Metadata-only. */
  def publish(path: String, v: Int): Int = {
    require(JsonDocVersions.read(path, v).isDefined,
      s"graft-jsondoc: cannot publish v$v of $path — no such committed version")
    require(JsonDocVersions.readStaged(path, v),
      s"graft-jsondoc: v$v of $path is not a staged snapshot — nothing to publish")
    // a stage publishes AT MOST ONCE (advice r14 — Iceberg's wap.id
    // dedup on cherrypick): immediately after a publish the re-apply is
    // a harmless no-op, but once OPTIMIZE has retired the published
    // copies of the staged files, a second publish would re-add the
    // compacted-away inputs — silent row duplication. The marker CAS is
    // claimed BEFORE the commit (at-most-once is the safe direction); a
    // refused commit releases it, so only a crash inside this window
    // leaves the stage locked, and the loud exit is discard + re-stage.
    if (!JsonDocVersions.claimPublished(path, v))
      throw new IllegalStateException(
        s"graft-jsondoc: staged v$v of $path was already published (or a publish " +
          "of it crashed mid-flight) — re-applying would duplicate rows; " +
          "discard_staged + re-stage to redo the write")
    try publishUnmarked(path, v)
    catch { case e: Throwable => JsonDocVersions.releasePublished(path, v); throw e }
  }

  private def publishUnmarked(path: String, v: Int): Int = {
    // walk the parent CHAIN to the published fork point (r14 branches:
    // a branch head's parents are earlier stages of the same chain, so
    // the delta below is the branch's CUMULATIVE change; a single stage
    // walks one hop, exactly the old behavior). A chain member that was
    // already published INDIVIDUALLY (cherry-pick, r15) poisons the
    // cumulative delta — re-applying it would duplicate its rows — so
    // the walk refuses on any published marker below the head.
    var parent = JsonDocVersions.readParent(path, v).getOrElse(0)
    while (parent != 0 && JsonDocVersions.readStaged(path, parent)) {
      if (JsonDocVersions.isPublished(path, parent))
        throw new IllegalStateException(
          s"graft-jsondoc: stage v$parent of this chain was already published " +
            "(cherry-picked) — the cumulative delta would re-apply it; " +
            "cherry-pick the remaining stages individually")
      parent = JsonDocVersions.readParent(path, parent).getOrElse(0)
    }
    applyStageDelta(path, v, parent)
  }

  /** Re-apply stage `v`'s delta AGAINST BASIS `parent` as a published
    * commit — shared by publish (parent = the chain's published fork:
    * the CUMULATIVE delta) and cherry_pick (parent = the stage's direct
    * parent: ONE stage's own delta). */
  private def applyStageDelta(path: String, v: Int, parent: Int,
      op: String = "publish"): Int = {
    val parentLive: Set[String] =
      if (parent == 0) Set.empty
      else JsonDocVersions.read(path, parent).getOrElse(throw new IllegalStateException(
        s"graft-jsondoc: staged v$v's fork point v$parent of $path has been " +
          "expired/vacuumed — its delta basis is gone; re-stage the write"))
    val sLive = JsonDocVersions.read(path, v).get
    val pDvs = JsonDocVersions.readDvs(path, parent)
    val sDvs = JsonDocVersions.readDvs(path, v)
    val dvUpdates = sDvs.filter { case (f, dv) => !pDvs.get(f).contains(dv) }
    // the staged chain's APPLIED-TRANSACTION entries ride the publish
    // (advice r14): a GraftTxn epoch recorded by a staged batch write
    // must reach published state, or a replayed epoch would re-apply
    // after publish instead of skipping. The delta is the chain's own
    // entries (those differing from the fork point's map), merged
    // max-wins so a later published epoch is never regressed.
    val pTxns = JsonDocVersions.readTxns(path, parent)
    val sTxns = JsonDocVersions.readTxns(path, v)
    val txnDelta = sTxns.filter { case (a, e) => !pTxns.get(a).contains(e) }
    JsonDocVersions.commitDelta(path, removed = parentLive -- sLive,
      added = sLive -- parentLive, dvUpdates = dvUpdates,
      dvBasis = Some(pDvs), extraTxns = txnDelta, op = op)
  }

  /** FAST-FORWARD a branch (r15, verdict item 3 — Iceberg's
    * `fast_forward` procedure): when the published head has NOT moved
    * since the branch forked, publishing needs no delta re-application
    * at all — one O(1) adoption commit makes the branch head's state
    * the current table (every stage's files, DVs, and ledger entries,
    * wholesale). Refuses loudly when the head moved (that is publish's
    * job — delta re-application with OCC), when any chain member was
    * already cherry-picked, or when a commit races the adoption (the
    * CAS failure voids the precondition). Claims every chain member's
    * published marker so no stage can be re-applied later, and spends
    * the branch pointer like publish-by-name does. */
  def fastForward(path: String, branch: String): Int = {
    val head = JsonDocRefs.branches(path).getOrElse(branch,
      throw new IllegalArgumentException(s"graft-jsondoc: no branch '$branch' on $path"))
    require(head > 0, s"graft-jsondoc: branch '$branch' of $path has no commits to fast-forward")
    // collect the chain and its fork point
    val members = scala.collection.mutable.ArrayBuffer.empty[Int]
    var cur = head
    while (cur != 0 && JsonDocVersions.readStaged(path, cur)) {
      members += cur
      cur = JsonDocVersions.readParent(path, cur).getOrElse(0)
    }
    val fork = cur
    require(JsonDocVersions.latestVersion(path).getOrElse(0) == fork,
      s"graft-jsondoc: cannot fast-forward '$branch' — published work landed since " +
        s"the branch forked at v$fork; CALL publish (delta re-application) instead")
    val claimed = scala.collection.mutable.ArrayBuffer.empty[Int]
    def releaseAll(): Unit = claimed.foreach(JsonDocVersions.releasePublished(path, _))
    members.foreach { m =>
      if (!JsonDocVersions.claimPublished(path, m)) {
        releaseAll()
        throw new IllegalStateException(
          s"graft-jsondoc: stage v$m of branch '$branch' was already published " +
            "(or a publish of it crashed mid-flight) — fast-forward would " +
            "duplicate its rows; discard and re-stage")
      }
      claimed += m
    }
    val v =
      try JsonDocVersions.commitAdopt(path, head, op = "fast-forward")
      catch { case e: Throwable => releaseAll(); throw e }
    JsonDocRefs.dropBranch(path, branch)
    v
  }

  /** THREE-WAY BRANCH MERGE (r17, verdict item 8 — completes the
    * branch-integration ladder): `fast_forward` is the O(1) adoption
    * when the head NEVER moved; `publish` re-applies the cumulative
    * delta trusting commitDelta's OCC to catch collisions mid-commit;
    * `merge_branch` DIAGNOSES first — an explicit 3-way diff against
    * the fork point with FILE-GRANULAR conflict detection:
    *
    *   touched(branch)   = files the chain retired or re-DV'd
    *   touched(published) = files the published lineage retired,
    *                        added-then-retired, or re-DV'd since fork
    *
    * Disjoint sets COMMUTE (a file nobody both touched reads the same
    * under either order), so the branch's delta applies onto the
    * current head in one commit; an overlap refuses loudly LISTING THE
    * FILES — the operator sees what collided instead of a generic
    * concurrent-modification error, and the branch survives untouched
    * for rebase-or-discard. Pure additions never conflict (names are
    * globally unique). Equality-delete drift on either side refuses
    * conservatively: an eq set's scope is version-relative and does
    * not commute with re-application. The commit itself still passes
    * commitDelta's OCC basis checks (racing writers lose there), every
    * chain member's published marker is claimed (re-publication of a
    * merged chain refuses), and the branch pointer is spent. */
  def mergeBranch(path: String, branch: String): Int = {
    val head = JsonDocRefs.branches(path).getOrElse(branch,
      throw new IllegalArgumentException(s"graft-jsondoc: no branch '$branch' on $path"))
    require(head > 0,
      s"graft-jsondoc: branch '$branch' of $path has no commits to merge")
    val members = scala.collection.mutable.ArrayBuffer.empty[Int]
    var cur = head
    while (cur != 0 && JsonDocVersions.readStaged(path, cur)) {
      if (JsonDocVersions.isPublished(path, cur))
        throw new IllegalStateException(
          s"graft-jsondoc: stage v$cur of branch '$branch' was already published " +
            "(cherry-picked) — merging the chain would re-apply it")
      members += cur
      cur = JsonDocVersions.readParent(path, cur).getOrElse(0)
    }
    val fork = cur
    val forkState = if (fork == 0) JsonDocVersions.EmptyState
      else JsonDocVersions.state(path, fork).getOrElse(throw new IllegalStateException(
        s"graft-jsondoc: branch '$branch' forked at v$fork of $path, which has " +
          "been expired/vacuumed — the merge basis is gone; re-stage the work"))
    val headState = JsonDocVersions.state(path, head).get
    val curV = JsonDocVersions.latestVersion(path).getOrElse(0)
    val curState = if (curV == 0) JsonDocVersions.EmptyState
      else JsonDocVersions.state(path, curV).get

    val removedB = forkState.live -- headState.live
    val addedB = headState.live -- forkState.live
    val dvB = headState.dvs.filter { case (f, dv) =>
      !forkState.dvs.get(f).contains(dv) }
    // a DV on a branch-ADDED file rides along but can never conflict
    // (nobody else can see the file); only fork-era touches collide
    val touchedB = removedB ++ (dvB.keySet -- addedB)
    val touchedP = (forkState.live -- curState.live) ++
      (curState.live -- forkState.live) ++
      forkState.live.filter(f => curState.dvs.get(f) != forkState.dvs.get(f))
    val conflicts = touchedB & touchedP
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        s"graft-jsondoc: cannot merge branch '$branch' of $path — both sides " +
          s"touched ${conflicts.size} file(s) since the fork at v$fork: " +
          conflicts.toSeq.sorted.take(5).mkString(", ") +
          (if (conflicts.size > 5) ", …" else "") +
          " — the changes do not commute; rebase (discard + re-stage) or " +
          "resolve by re-running the branch's DML on the current table")
    require(headState.eqs == forkState.eqs,
      s"graft-jsondoc: branch '$branch' added equality-delete sets — their scope " +
        "is version-relative and does not commute with a merge; publish instead")
    require(curState.eqs == forkState.eqs,
      s"graft-jsondoc: equality-delete sets landed on $path since the fork — " +
        "they do not commute with re-applied branch files; rebase the branch")

    // ledger delta (the publish recipe): the chain's own entries
    val txnDelta = headState.txns.filter { case (a, e) =>
      !forkState.txns.get(a).contains(e) }
    val claimed = scala.collection.mutable.ArrayBuffer.empty[Int]
    def releaseAll(): Unit = claimed.foreach(JsonDocVersions.releasePublished(path, _))
    members.foreach { m =>
      if (!JsonDocVersions.claimPublished(path, m)) {
        releaseAll()
        throw new IllegalStateException(
          s"graft-jsondoc: stage v$m of branch '$branch' was already published " +
            "(or a publish of it crashed mid-flight) — merging would duplicate rows")
      }
      claimed += m
    }
    val v =
      try JsonDocVersions.commitDelta(path, removed = removedB, added = addedB,
        dvUpdates = dvB, dvBasis = Some(forkState.dvs), extraTxns = txnDelta,
        op = "merge-branch")
      catch { case e: Throwable => releaseAll(); throw e }
    JsonDocRefs.dropBranch(path, branch)
    v
  }

  /** CHERRY-PICK one staged snapshot's OWN delta (r15, verdict item 3 —
    * Iceberg's `cherrypick_snapshot`): re-apply stage `v`'s changes
    * against ITS DIRECT PARENT onto the current table — one mid-chain
    * commit published without the rest of its branch. The usual OCC
    * refusals fire on genuine conflicts; the published marker makes the
    * pick at-most-once, and a later publish/fast-forward of the chain
    * refuses rather than re-applying the picked stage. */
  def cherryPick(path: String, v: Int): Int = {
    require(JsonDocVersions.read(path, v).isDefined,
      s"graft-jsondoc: cannot cherry-pick v$v of $path — no such committed version")
    require(JsonDocVersions.readStaged(path, v),
      s"graft-jsondoc: v$v of $path is not a staged snapshot — published history " +
        "cannot be cherry-picked")
    if (!JsonDocVersions.claimPublished(path, v))
      throw new IllegalStateException(
        s"graft-jsondoc: staged v$v of $path was already published (or a publish " +
          "of it crashed mid-flight) — re-applying would duplicate rows")
    try applyStageDelta(path, v,
      JsonDocVersions.readParent(path, v).getOrElse(0), op = "cherry-pick")
    catch { case e: Throwable => JsonDocVersions.releasePublished(path, v); throw e }
  }

  /** DISCARD a staged snapshot (r14): the explicit "audit failed" exit
    * of the WAP flow — drops the staged manifest so the staged files
    * become unreferenced orphans the next vacuum sweeps. Refuses
    * non-staged versions loudly (published history is dropped by
    * retention policy, never one-off). */
  def discardStaged(path: String, v: Int): Unit = {
    require(JsonDocVersions.read(path, v).isDefined,
      s"graft-jsondoc: cannot discard v$v of $path — no such committed version")
    require(JsonDocVersions.readStaged(path, v),
      s"graft-jsondoc: v$v of $path is not a staged snapshot — published " +
        "history is expired by retention policy, not discarded")
    // a TAGGED stage is retention-pinned like any tagged snapshot
    // (advice r14: the WAP flow suggests tagging a staged snapshot for
    // audit; discarding under the tag would leave a dangling ref whose
    // VERSION AS OF read throws)
    JsonDocRefs.tags(path).foreach { case (n, tv) =>
      require(tv != v,
        s"graft-jsondoc: v$v is pinned by tag '$n' — CALL drop_tag('$n') first")
    }
    // a live branch's chain member cannot be discarded from under it —
    // the head pointer (or a later stage's parent walk) would dangle
    JsonDocRefs.branches(path).foreach { case (n, head) =>
      var cur = head
      while (cur != 0) {
        require(cur != v,
          s"graft-jsondoc: v$v is part of branch '$n' — CALL drop_branch('$n') first")
        cur = if (JsonDocVersions.readStaged(path, cur))
          JsonDocVersions.readParent(path, cur).getOrElse(0) else 0
      }
    }
    if (!JsonDocVersions.deleteManifest(path, v))
      throw new java.io.IOException(
        s"graft-jsondoc: failed to delete staged manifest v$v of $path")
    // the discarded stage may have been the newest manifest — move the
    // resolution pointer back so reads don't fall to the listing forever
    JsonDocVersions.refreshHeadAfterDelete(path)
  }

  /** Shared reclaim: delete every data file no kept manifest references,
    * then the dropped manifests, then prune the reclaimed files' stats
    * entries. Returns the deleted data-file names. TAGGED versions are
    * never reclaimed (r14, [[JsonDocRefs]]): a tag is a retention
    * statement, so it moves its version from `drop` to `keep` here — in
    * the ONE shared path, so count-based vacuum and time-based expiry
    * cannot drift on it. Dropping the tag releases the snapshot. */
  private def reclaim(path: String,
      drop0: Seq[Int], keep0: Seq[Int]): Seq[String] = {
    // the latest PUBLISHED version must always survive (a staged WAP
    // head can be the newest manifest, but it is not the current table
    // — reclaiming the published head under it would break every
    // current read); tagged versions are retention-pinned; and a
    // BRANCH pins its whole chain — every stage down to the published
    // fork point, which publish needs as its delta basis (r14)
    def chainOf(head: Int): Seq[Int] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cur = head
      while (cur != 0) {
        buf += cur
        cur = if (JsonDocVersions.readStaged(path, cur))
          JsonDocVersions.readParent(path, cur).getOrElse(0)
        else 0
      }
      buf.toSeq
    }
    val protected0 = JsonDocRefs.tags(path).values.toSet ++
      JsonDocVersions.latestVersion(path) ++
      JsonDocRefs.branches(path).values.flatMap(chainOf)
    val drop = drop0.filterNot(protected0)
    val keep = keep0 ++ drop0.filter(protected0)
    // with INCREMENTAL manifests (r15) a kept version can be a delta
    // whose reconstruction chain passes through manifests about to be
    // dropped — checkpoint every kept version FIRST so each becomes
    // self-contained, then dropping ancestors is safe
    if (drop.nonEmpty)
      keep.distinct.foreach(v => JsonDocVersions.ensureCheckpoint(path, v))
    val referenced: Set[String] =
      keep.flatMap(v => JsonDocVersions.read(path, v).getOrElse(Set.empty)).toSet
    val deletable = JsonDocSource.walkDataFiles(path)
      .map(f => (f, JsonDocSource.relName(path, f)))
      .filterNot { case (_, rel) => referenced.contains(rel) }
    deletable.foreach { case (f, _) =>
      if (!f.delete()) throw new java.io.IOException(s"vacuum failed to delete $f")
    }
    // delete vectors referenced by NO kept manifest are orphans too
    // (r14) — superseded unions, crash leftovers, expired versions'
    // vectors; they are underscore-named so the data walk never sees
    // them, and a kept version's DVs must survive for time travel
    val referencedDvs: Set[String] =
      keep.flatMap(v => JsonDocVersions.readDvs(path, v).values).toSet
    // equality-delete files follow the same rule (r15)
    val referencedEqs: Set[String] =
      keep.flatMap(v => JsonDocVersions.state(path, v)
        .map(_.eqs.map(_._2)).getOrElse(Seq.empty)).toSet
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile &&
        ((f.getName.startsWith(JsonDocDeleteVectors.Prefix)
          && !referencedDvs.contains(f.getName)) ||
         (f.getName.startsWith(JsonDocEqDeletes.Prefix)
          && !referencedEqs.contains(f.getName))))
      .foreach { f =>
        if (!f.delete()) throw new java.io.IOException(s"vacuum failed to delete $f")
      }
    drop.foreach { v =>
      if (!JsonDocVersions.deleteManifest(path, v))
        throw new java.io.IOException(s"vacuum failed to delete manifest v$v of $path")
    }
    // published-stage markers whose manifest is gone are stale claims
    JsonDocVersions.sweepPublishedMarkers(path)
    if (drop.nonEmpty) JsonDocVersions.refreshHeadAfterDelete(path)
    // prune the reclaimed files' stats entries: the files are unreadable
    // at EVERY remaining version, so their entries are dead weight the
    // sidecar would otherwise carry (and reparse at each scan) forever
    if (deletable.nonEmpty) {
      JsonDocStats.mergeAndWrite(path, Seq.empty, keepExisting = true,
        dropNames = deletable.map(_._2).toSet)
      JsonDocBlooms.mergeAndWrite(path, Seq.empty,
        dropNames = deletable.map(_._2).toSet)
    }
    deletable.map(_._2).toSeq.sorted
  }

  /** Small-files OPTIMIZE: bin-pack the live files into ~`targetBytes`
    * outputs and commit the result as a NEW SNAPSHOT — the jsondoc form
    * of Delta OPTIMIZE / Iceberg rewrite_data_files, and the natural
    * companion of a streaming sink whose epochs each land one small
    * file. JSON-lines concatenate byte-for-byte, so groups merge with a
    * straight stream copy — no parse, no Spark job, no row ever
    * re-encoded (the rewrite cannot corrupt what it cannot interpret).
    * Files already at or above half the target, and singleton bins,
    * keep their original file untouched — UNLESS they carry a delete
    * vector: a DV'd file is rewritten whatever its size (Delta's
    * `REORG ... APPLY (PURGE)` / Iceberg's delete-file-threshold), or
    * merge-on-read's read-side debt would never be repaid on tables
    * whose files are already well-sized. The commit is the usual
    * manifest rename: readers mid-query keep their snapshot, the prior
    * version stays time-travelable, vacuum reclaims the small originals.
    * Stats entries for a merged output are the field-wise union of the
    * inputs' entries (rows summed, ranges widened) when every input has
    * the column — else the column (or whole entry) is omitted and
    * readers simply don't prune it, the sidecar's standing
    * conservatism. Returns the new version, or None when nothing needed
    * compacting.
    *
    * CONTRACT: do not OPTIMIZE a directory a streaming query is
    * currently consuming as a SOURCE. The micro-batch source tracks a
    * name high-watermark over the live listing; compaction retires
    * consumed names and introduces a merged file whose rows were partly
    * delivered already — no file-granular offset can represent "half
    * this file is consumed". Batch-read tables (the catalog's domain)
    * and the SINK side of streaming (epochs append, OPTIMIZE between
    * runs) are the supported shapes. */
  /** `scope` (r14): restrict compaction to one partition subtree — a
    * relative directory prefix like `ts_day=2024-01-15` or
    * `status=O/region=1`. At 10^5 partition directories, table
    * maintenance is incremental by nature ("compact yesterday's
    * ingest"); a whole-table pass would re-plan every directory to
    * rewrite one. Empty = the whole table (the r13 behavior). A scope
    * matching nothing is a no-op (None), not an error — maintenance
    * jobs probe partitions that may be empty. */
  def optimize(path: String, targetBytes: Long = 8L * 1024 * 1024,
      scope: String = ""): Option[Int] = {
    require(targetBytes > 0)
    val dir = new java.io.File(path)
    val live: Seq[String] = JsonDocVersions.latest(path).map(_._2.toSeq.sorted).getOrElse(
      JsonDocSource.listDataFiles(path).map(f => JsonDocSource.relName(path, f)).toSeq)
    val inScope: Seq[String] =
      if (scope.isEmpty) live
      else live.filter(_.startsWith(scope.stripSuffix("/") + "/"))
    val files: Seq[(String, java.io.File)] =
      inScope.map(n => (n, new java.io.File(dir, n))).filter(_._2.isFile)
    // greedy consecutive bin-packing over the name order (the read
    // order) — PER PARTITION DIRECTORY (r13): a merged file must live in
    // exactly one `col=value` directory or it would change the rows'
    // partition, so bins never straddle a directory boundary (the flat
    // layout is the single "" group and packs exactly as before)
    val bins = scala.collection.mutable.ArrayBuffer.empty[Vector[(String, java.io.File)]]
    files.groupBy { case (n, _) => n.substring(0, n.lastIndexOf('/') + 1) }
      .toSeq.sortBy(_._1).foreach { case (_, group) =>
        var cur = Vector.empty[(String, java.io.File)]; var curBytes = 0L
        group.foreach { case (n, f) =>
          val len = f.length()
          if (cur.nonEmpty && curBytes + len > targetBytes) { bins += cur; cur = Vector.empty; curBytes = 0L }
          if (len >= targetBytes / 2) {
            // flush the open bin FIRST (advice r12): without this a big file
            // becomes a singleton bin while the open bin stays open and later
            // merges files that STRADDLE it — a merged output whose inputs
            // are not consecutive in name (read) order
            if (cur.nonEmpty) { bins += cur; cur = Vector.empty; curBytes = 0L }
            bins += Vector((n, f)) // big enough already
          } else { cur = cur :+ ((n, f)); curBytes += len }
        }
        if (cur.nonEmpty) bins += cur
      }
    // merge-on-read PURGE (r14): an input with a delete vector is
    // copied line-filtered — its dead positions dropped — so the
    // compacted output is clean and carries no DV (compaction is where
    // MOR's read-side debt is repaid). A DV'd file needs the rewrite
    // even as a singleton bin (well-sized files are otherwise left
    // untouched, and their DVs would persist forever). Positions are
    // loaded once here; the commit passes this map as its dv conflict
    // basis, so a DV repointed mid-compaction aborts rather than
    // resurrecting deletes.
    val dvs = JsonDocVersions.dvsFor(path, None)
    val dvPos: Map[String, Array[Long]] = dvs.map { case (rel, dv) =>
      rel -> JsonDocDeleteVectors.read(path, dv).toArray.sorted
    }
    // EQUALITY-DELETE purge (r15): a file with applicable eq sets is
    // rewritten line-filtered like a DV'd one; the outputs sequence at
    // the NEW version, above every existing eq, so the state's eq GC
    // retires the entries once no pre-eq file remains — compaction is
    // where streaming upsert's read-side debt is repaid too. The eq
    // list captured here is the commit's conflict basis: an upsert
    // epoch landing mid-compaction would have its deletions silently
    // resurrected in the rewritten outputs, so commitDelta refuses on
    // drift and the compaction re-plans.
    val (eqList, addedAtMap) = JsonDocVersions.eqsFor(path, None)
    val eqAliases = renamesOf(path)
    def eqPathsOf(rel: String): Seq[String] =
      if (eqList.isEmpty) Seq.empty
      else {
        val added = addedAtMap.getOrElse(rel, Int.MaxValue)
        eqList.collect { case (ev, n) if ev > added =>
          new java.io.File(dir, n).getAbsolutePath }
      }
    def needsRewrite(bin: Vector[(String, java.io.File)]): Boolean =
      bin.length > 1 || bin.exists { case (n, _) =>
        dvPos.contains(n) || eqPathsOf(n).nonEmpty }
    if (!bins.exists(needsRewrite)) return None
    // a LEGACY (manifest-less) directory: its live set is the listing,
    // minted here as the first manifest — the delta commit below must
    // retire inputs that a manifest names as live (the batch path's
    // bootstrap rule, r14)
    if (JsonDocVersions.latest(path).isEmpty)
      JsonDocVersions.commit(path, live.toSet, op = "bootstrap")
    val v = JsonDocVersions.latestManifestVersion(path) + 1
    val stats = JsonDocStats.load(path)
    // declared bloom columns (r16): rebuilt EXACTLY inside the rewrite
    // tasks (each surviving line is hashed as it streams past), so a
    // table with filters keeps point-lookup skipping across compaction.
    // The cost is honest: a bloom-declared bin parses lines instead of
    // byte-copying — the same trade every columnar format's compaction
    // already makes, and only paid when the property is set.
    val bloomColSpec: Seq[(String, Boolean)] =
      GraftCatalog.readSchema(dir).toSeq.flatMap { sch =>
        JsonDocBlooms.declaredCols(path, sch).map(c =>
          c -> (sch(c).dataType == org.apache.spark.sql.types.StringType))
      }
    // frozen EXISTS_DEFAULT hashes (r17, advice-high): lines predating an
    // `ADD COLUMN ... DEFAULT` lack the key but READ as the frozen value,
    // so the rebuilt filter must contain that value or `WHERE c = default`
    // would prune the compacted file and its pre-add rows would silently
    // vanish. Sidecar-authoritative resolution (same source as the
    // reader); an unhashable default value (cannot happen for indexable
    // types, kept as a guard) drops the column — no filter beats a lying
    // one.
    val existsDefs: Map[String, Any] = GraftCatalog.existsDefaultsForTable(
      path, new org.apache.spark.sql.types.StructType())
    val bloomDefaultHashes: Map[String, Option[Long]] =
      bloomColSpec.flatMap { case (n, _) =>
        existsDefs.get(n).map(v => n -> JsonDocBlooms.hashConst(v)) }.toMap
    val bloomCols: Seq[(String, Boolean)] =
      bloomColSpec.filter { case (n, _) => bloomDefaultHashes.get(n) match {
        case Some(None) => false // unhashable default: build no filter
        case _ => true
      } }
    val bloomDefaults: Map[String, Long] =
      bloomDefaultHashes.collect { case (n, Some(h)) => n -> h }

    // Build each merged file in an EXECUTOR task (r12 verdict item 3):
    // the bins are independent byte concatenations, and compaction of a
    // large table cannot stream through one process — the driver's only
    // O(data) role here would be a scale-killer. Each task writes an
    // attempt-suffixed temp (speculative/retried attempts never
    // collide); the driver renames winners to their final names, merges
    // stats (metadata-only), and commits the manifest — the same
    // task-temp/driver-rename two-phase protocol as the V2 writer. The
    // output is byte-identical to the serial path: same bins, same
    // in-bin name order, same separator. Serial fallback when no
    // SparkSession is active (bare library use).
    val multi: Seq[(Int, Vector[String])] = bins.zipWithIndex.collect {
      case (bin, i) if needsRewrite(bin) => (i, bin.map(_._1))
    }.toSeq
    val eqPathsB: Map[String, Seq[String]] =
      multi.flatMap(_._2).map(n => n -> eqPathsOf(n)).toMap
    val results: Map[Int, (String, Long, String)] =
      org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(spark) =>
          val pathStr = path
          val dvPosB = dvPos // avoid capturing the whole enclosing scope
          val eqPB = eqPathsB
          val aliasesB = eqAliases
          val bloomSpecB = bloomCols
          val bloomDefsB = bloomDefaults
          spark.sparkContext.parallelize(multi, multi.size).map { case (i, names) =>
            val d = new java.io.File(pathStr)
            val attempt = Option(org.apache.spark.TaskContext.get())
              .map(_.taskAttemptId()).getOrElse(0L)
            // the temp lives IN the bin's directory (same-dir rename)
            val prefix = names.head.substring(0, names.head.lastIndexOf('/') + 1)
            val tmpName = s"$prefix.compact-bin$i-t$attempt.jsonl.tmp"
            val rebuild = if (bloomSpecB.isEmpty) null
              else new JsonDocBlooms.Rebuild(bloomSpecB, aliasesB, bloomDefsB)
            val out = new java.io.FileOutputStream(new java.io.File(d, tmpName))
            val dropped = try names.map(n =>
              GraftCatalog.copyCompactInput(d, n, out, dvPosB.get(n),
                eqPB.getOrElse(n, Seq.empty), aliasesB, rebuild)).sum
            finally out.close()
            (i, (tmpName, dropped, if (rebuild == null) "" else rebuild.toJson))
          }.collect().toMap
        case None =>
          multi.map { case (i, names) =>
            val prefix = names.head.substring(0, names.head.lastIndexOf('/') + 1)
            val tmpName = s"$prefix.compact-bin$i-t0.jsonl.tmp"
            val rebuild = if (bloomCols.isEmpty) null
              else new JsonDocBlooms.Rebuild(bloomCols, eqAliases, bloomDefaults)
            val out = new java.io.FileOutputStream(new java.io.File(dir, tmpName))
            val dropped = try names.map(n =>
              GraftCatalog.copyCompactInput(dir, n, out, dvPos.get(n),
                eqPathsB.getOrElse(n, Seq.empty), eqAliases, rebuild)).sum
            finally out.close()
            (i, (tmpName, dropped, if (rebuild == null) "" else rebuild.toJson))
          }.toMap
      }
    val tmpOf: Map[Int, String] = results.map { case (i, (t, _, _)) => i -> t }
    val eqDroppedOf: Map[Int, Long] = results.map { case (i, (_, d, _)) => i -> d }
    val bloomOf: Map[Int, String] = results.map { case (i, (_, _, b)) => i -> b }
    val newEntries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val newBloomEntries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val newLive = bins.zipWithIndex.flatMap {
      case (bin, _) if !needsRewrite(bin) => bin.map(_._1)
      case (bin, i) =>
        val prefix = bin.head._1.substring(0, bin.head._1.lastIndexOf('/') + 1)
        val name = f"${prefix}compact-v$v%06d-$i%04d.jsonl"
        val tmp = new java.io.File(dir, tmpOf(i))
        if (!tmp.renameTo(new java.io.File(dir, name)))
          throw new java.io.IOException(s"optimize rename failed for $name")
        JsonDocStats.union(bin.map { case (n, _) => stats.get(n) })
          .foreach { merged =>
            // rows subtract the purged positions EXACTLY; ranges stay
            // (a deleted row can only make them wider than true — the
            // sidecar's standing widen-only conservatism). Eq-dropped
            // rows were COUNTED during the rewrite, so they subtract
            // exactly too (r15).
            val purged = bin.map { case (n, _) =>
              dvPos.get(n).map(_.length.toLong).getOrElse(0L) }.sum +
              eqDroppedOf.getOrElse(i, 0L)
            // defaulted columns (r17, advice-high sibling): an input
            // whose stats LACK column c holds pre-`ADD COLUMN` lines
            // that READ as c's frozen EXISTS_DEFAULT, so the union's
            // keep-the-present-range result would exclude a value the
            // merged file serves and `WHERE c = <default>` would
            // stats-prune it. Drop such columns from the merged entry —
            // absence never prunes; the rebuilt bloom (which hashes the
            // default on absent tokens) keeps point-lookup skipping.
            val lying = existsDefs.keySet.filter(c =>
              merged.cols.contains(c) && bin.exists { case (n, _) =>
                stats.get(n).exists(s => !s.cols.contains(c)) })
            newEntries += (name -> JsonDocStats.toJson(merged.copy(
              rows = merged.rows - purged, cols = merged.cols -- lying)))
          }
        // rebuilt blooms from the rewrite task (exact over surviving rows)
        bloomOf.get(i).filter(_.nonEmpty).foreach(j => newBloomEntries += (name -> j))
        Seq(name)
    }.toSet
    // losing speculative attempts leave dot-temps invisible to readers;
    // sweep them (at every partition depth) before committing
    def sweep(d: java.io.File): Unit =
      Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isFile && f.getName.startsWith(".compact-bin") &&
          f.getName.endsWith(".jsonl.tmp")) f.delete()
        else if (f.isDirectory && f.getName.contains('=')) sweep(f)
      }
    sweep(dir)
    // delta commit: retire exactly the multi-file bins' inputs, add the
    // compacted outputs — a concurrent append's files survive, and a
    // concurrent rewrite of an input aborts loudly (r13)
    val removedIn = bins.filter(needsRewrite).flatMap(_.map(_._1)).toSet
    val addedOut = newLive -- live.toSet
    // REWRITE provenance (r14, verdict item 5): each output's exact
    // input set + whether DVs were applied — what lets a checkpointed
    // streaming consumer rebase across this compaction instead of
    // aborting (fully-consumed pure-concat outputs are skippable)
    val rewriteRecords: Map[String, JsonDocVersions.Rewrite] =
      bins.zipWithIndex.collect {
        case (bin, i) if needsRewrite(bin) =>
          val prefix = bin.head._1.substring(0, bin.head._1.lastIndexOf('/') + 1)
          val name = f"${prefix}compact-v$v%06d-$i%04d.jsonl"
          name -> JsonDocVersions.Rewrite(bin.map(_._1).toSet,
            purged = bin.exists { case (n, _) =>
              dvPos.contains(n) || eqPathsOf(n).nonEmpty })
      }.toMap
    // the committed version can exceed the name-embedded v when a
    // concurrent append rebased this commit upward — names are just
    // names; report what actually committed
    val committed = JsonDocVersions.commitDelta(path, removedIn, addedOut,
      dvBasis = Some(dvs), eqBasis = Some(eqList),
      rewrites = rewriteRecords, op = "optimize")
    JsonDocStats.mergeAndWrite(path, newEntries.toSeq, keepExisting = true)
    JsonDocBlooms.mergeAndWrite(path, newBloomEntries.toSeq)
    Some(committed)
  }

  /** One compaction input appended to `out`: a straight byte copy when
    * it carries no delete vector and no applicable equality deletes, a
    * line-filtered copy (dead positions and eq-matched rows dropped)
    * when it does. Position = 0-based index among non-empty lines, the
    * reader's coordinate system. Returns the count of EQ-dropped lines
    * (position drops are known from the DV itself). Runs in executor
    * tasks. */
  private[sources] def copyCompactInput(dir: java.io.File, name: String,
      out: java.io.OutputStream, drop: Option[Array[Long]],
      eqPaths: Seq[String] = Seq.empty,
      aliases: Map[String, Seq[String]] = Map.empty,
      bloom: JsonDocBlooms.Rebuild = null): Long = {
    val eqSets = eqPaths.map(JsonDocEqDeletes.read)
    (drop, eqSets) match {
      // pure byte copy — only when no row is dropped AND no bloom needs
      // the lines parsed (a bloom-declared table pays the parse pass)
      case (None, Seq()) if bloom == null =>
        java.nio.file.Files.copy(new java.io.File(dir, name).toPath, out)
        out.write('\n') // files end without one; keep lines separate
        0L
      case (positions, eqs) =>
        val dead = new java.util.HashSet[java.lang.Long]()
        positions.foreach(_.foreach(p => dead.add(p)))
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        var eqDropped = 0L
        val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.io.FileInputStream(new java.io.File(dir, name)),
          java.nio.charset.StandardCharsets.UTF_8))
        try {
          var pos = -1L
          var line = reader.readLine()
          while (line != null) {
            if (line.nonEmpty) {
              pos += 1
              if (!dead.contains(pos)) {
                val node = if (eqs.nonEmpty || bloom != null) mapper.readTree(line) else null
                if (eqs.nonEmpty && JsonDocEqDeletes.rowDeleted(node, eqs, aliases))
                  eqDropped += 1
                else {
                  if (bloom != null) bloom.add(node)
                  out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  out.write('\n')
                }
              }
            }
            line = reader.readLine()
          }
        } finally reader.close()
        eqDropped
    }
  }

  /** KEY-CLUSTER a table (r13 — Iceberg `rewrite_data_files` with a sort
    * spec, the maintenance op that makes incremental-MV copy-on-write
    * amplification BOUNDED instead of prose): rewrite the live rows into
    * `buckets` files holding contiguous ranges of `column`, committed as
    * one atomic snapshot. After clustering, a MERGE whose delta touches
    * a narrow key range rewrites only the files whose ranges intersect
    * it — the row-level runtime group filter finds matches in exactly
    * those files, and the per-file stats sidecar (min/max of `column`
    * recorded by the clustered write itself) prunes the group-filter
    * pre-scan too. An unclustered view has every key in every file, so
    * the same delta rewrites the whole table — the q183 scaladoc's
    * named hazard, measured in PERF.md "r13: MV copy-on-write amplification".
    *
    * Execution is fully distributed: the scan reads the current
    * snapshot, `repartitionByRange` range-splits on executors (one
    * clustered output file per range task via the normal two-phase V2
    * writer), and the driver's single truncate-commit retires the old
    * files and publishes the new layout — readers mid-query keep their
    * snapshot, the prior version stays time-travelable, vacuum reclaims
    * the originals. O(view) by nature, like every recluster; run it
    * periodically, not per epoch. */
  def cluster(spark: org.apache.spark.sql.SparkSession, table: String,
      column: String, buckets: Int, path: String = null): Unit = {
    require(buckets >= 1, "cluster needs at least one bucket")
    val df = spark.table(table)
    require(df.schema.fieldNames.contains(column),
      s"cluster: no such column $column in $table")
    // The raw path comes from the caller when available (ClusterProcedure
    // has it as its first argument); re-parsing the qualified name splits
    // on BACKTICKS, not dots — a dotted table path like /data/events.v2/t
    // split on '.' would yield a wrong path and silently change behavior
    // (advice r13)
    val tablePath =
      if (path != null) path
      else {
        val i = table.indexOf('`'); val j = table.lastIndexOf('`')
        if (i >= 0 && j > i) table.substring(i + 1, j)
        else table.substring(table.indexOf('.') + 1)
      }
    // overwrite(true) = SupportsTruncate in ONE commit: tasks write the
    // clustered temps while the scan still reads the old files; the
    // truncate happens at driver commit, after every temp is ready
    if (partitionColsOf(tablePath).nonEmpty) {
      // PARTITION-LOCAL clustering (r14; refused outright in r13): the
      // `cluster-by` option makes the write request an ORDERED
      // distribution on (partition transforms, column) — each partition
      // directory's files then hold contiguous ranges of `column`, so
      // partitioned MVs get the q188 copy-on-write write-set bound too.
      // `buckets` caps the TOTAL task/file count across directories.
      df.writeTo(table)
        .option("cluster-by", column)
        .option("cluster-buckets", buckets.toString)
        // the IDENTITY declaration is this separate marker, not
        // cluster-by itself: cluster-by is a public distribution
        // request any content-changing overwrite may legitimately
        // carry, and conflating the two would make the change feed
        // silently skip a real replace
        .option("maintenance-rewrite", "true")
        .overwrite(org.apache.spark.sql.functions.lit(true))
    } else {
      df.repartitionByRange(buckets, org.apache.spark.sql.functions.col(column))
        .sortWithinPartitions(column)
        .writeTo(table)
        // declares the overwrite CONTENT-IDENTICAL (op = `cluster`), so
        // the change feed skips it like OPTIMIZE instead of re-emitting
        // the whole table; the partitioned branch's `cluster-by` option
        // carries the same declaration
        .option("maintenance-rewrite", "true")
        .overwrite(org.apache.spark.sql.functions.lit(true))
    }
  }

  /** Keys Spark itself injects into CREATE TABLE properties — never
    * user intent, never persisted. */
  private[sources] val ReservedProps: Set[String] =
    Set("provider", "location", "owner", "external", "comment")

  /** Property prefix for INFORMATIONAL (NOT ENFORCED) key constraints —
    * distinct from [[GraftConstraints.Prefix]] so the write-time CHECK
    * compiler never tries to enforce a PRIMARY KEY DDL string. */
  private[sources] val InfoConstraintPrefix = "table_constraint."

  private[sources] def schemaFile(dir: java.io.File): java.io.File =
    new java.io.File(dir, "_table_schema.json")

  /** Validate one partition-spec entry against the schema (shared by
    * CREATE TABLE's Transform parsing and `CALL set_partition_spec`'s
    * string parsing, so the rules can never drift). */
  private[sources] def validatedPartField(schema: StructType, col: String,
      transform: String, n: Int): PartField = {
    val f = schema.fields.find(_.name == col).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: partition column $col is not in the schema"))
    transform match {
      case "identity" =>
        require(f.dataType != org.apache.spark.sql.types.DoubleType,
          s"graft catalog: partitioning on a floating-point column is refused ($col: double) — " +
            "directory equality on floats is a correctness trap; partition on long/int/string/boolean")
        PartField(f)
      case t if GraftTransforms.TimePrefixLen.contains(t) =>
        require(f.dataType == StringType || f.dataType == LongType,
          s"graft catalog: $t() partitions an ISO-8601 STRING or epoch-millis BIGINT " +
            s"column, got $col: ${f.dataType.simpleString}")
        PartField(f, t)
      case "bucket" =>
        require(n >= 1, s"graft catalog: bucket() needs at least one bucket, got $n")
        require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == StringType,
          s"graft catalog: bucket() partitions a bigint/int/string column, " +
            s"got $col: ${f.dataType.simpleString}")
        PartField(f, "bucket", n)
      case "truncate" =>
        require(n >= 1, s"graft catalog: truncate() needs width >= 1, got $n")
        require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == StringType,
          s"graft catalog: truncate() partitions a bigint/int/string column, " +
            s"got $col: ${f.dataType.simpleString}")
        PartField(f, "truncate", n)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform '$other' " +
          "(supported: identity, days, bucket)")
    }
  }

  /** PARTITION-SPEC EVOLUTION (r14 — "frozen at CREATE" through r13):
    * replace the table's partition spec for FUTURE writes. Iceberg's
    * evolution model at file grain: existing files keep their layout
    * untouched (directory components are evaluated per file against
    * whatever spec entries match by name, so mixed-layout reads are
    * already correct — an old flat or differently-partitioned file
    * simply isn't directory-pruned), new writes route and cluster by
    * the new spec, and row-level rewrites migrate whatever they touch.
    * `specString` is comma-separated `col` | `days(col)` |
    * `bucket(n, col)`; empty = unpartition future writes. */
  def setPartitionSpec(path: String, specString: String): Unit = {
    val dir = new java.io.File(path)
    val (schema, dropped) = readSchemaAndDropped(dir).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: set_partition_spec needs a catalog-created table (no schema sidecar in $path)"))
    val entry = raw"\s*(?:(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)|(\w+))\s*".r
    val specs: Seq[PartField] = specString.split(',').toSeq
      .filter(_.trim.nonEmpty).map {
        case entry(fn, n, col, bare) =>
          if (bare != null) validatedPartField(schema, bare, "identity", 0)
          else validatedPartField(schema, col, fn,
            Option(n).map(_.toInt).getOrElse(0))
        case other => throw new IllegalArgumentException(
          s"graft catalog: cannot parse partition-spec entry '$other' " +
            "(expected col, days(col), or bucket(n, col))")
      }
    require(specs.map(_.dirName).distinct.length == specs.length,
      s"graft catalog: duplicate partition columns in '$specString'")
    writeSchema(dir, schema, dropped, partitions = specs,
      props = tablePropsOf(path), renames = renamesOf(path))
  }

  /** The table's RENAME name-mapping: current column name -> former
    * names, newest first (empty for tables never renamed). Readers fall
    * back through these when a JSON line lacks the current name, so old
    * files read correctly with zero rewrite. */
  private[sources] def renamesOf(path: String): Map[String, Seq[String]] = {
    val f = schemaFile(new java.io.File(path))
    if (!f.isFile) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(f.toPath))
    Option(root.get("renames")).map { r =>
      r.fields().asScala.map(e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq).toMap
    }.getOrElse(Map.empty)
  }

  /** The table's persisted TBLPROPERTIES (empty for bare-writer
    * directories and legacy sidecars). */
  private[sources] def tablePropsOf(path: String): Map[String, String] = {
    val f = schemaFile(new java.io.File(path))
    if (!f.isFile) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(f.toPath))
    Option(root.get("properties")).map { p =>
      p.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
  }

  /** Sidecar format: `{"schema": <StructType.json>, "dropped": [names]}`.
    * `dropped` is the column TOMBSTONE list — names ever removed by
    * ALTER TABLE DROP COLUMN. Their bytes are inert in old files (lazy
    * deletion), so re-ADDing such a name would silently resurface
    * pre-drop values; the tombstone lets alterTable refuse that loudly
    * (the field-id problem Iceberg/Delta solve, solved by name here).
    * Legacy sidecars holding a bare schema JSON still parse
    * (dropped = none). */
  private[sources] def writeSchema(dir: java.io.File, schema: StructType,
      dropped: Set[String] = Set.empty,
      partitions: Seq[PartField] = Seq.empty,
      props: Map[String, String] = Map.empty,
      renames: Map[String, Seq[String]] = Map.empty): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "schema", mapper.readTree(schema.json))
    val arr = root.putArray("dropped")
    dropped.toSeq.sorted.foreach(arr.add)
    if (partitions.nonEmpty) {
      val parr = root.putArray("partitions")
      // declaration order = directory depth order. Identity entries stay
      // bare strings (the r13 shape, so r13 sidecars and readers agree);
      // transforms are objects {col, transform[, n]}.
      partitions.foreach { p =>
        if (p.transform == "identity") { parr.add(p.field.name); () }
        else {
          val o = parr.addObject()
          o.put("col", p.field.name)
          o.put("transform", p.transform)
          // bucket count / truncate width — any parameterized transform
          if (p.buckets != 0) o.put("n", p.buckets)
          ()
        }
      }
    }
    if (props.nonEmpty) {
      val pobj = root.putObject("properties")
      props.toSeq.sortBy(_._1).foreach { case (k, v) => pobj.put(k, v) }
    }
    if (renames.nonEmpty) {
      // current name -> its FORMER names, newest first (name mapping)
      val robj = root.putObject("renames")
      renames.toSeq.sortBy(_._1).foreach { case (k, olds) =>
        val arr = robj.putArray(k)
        olds.foreach(arr.add)
      }
    }
    // tmp+rename (r13): a straight write to the final path could expose
    // a TRUNCATED schema to a concurrent reader mid-ALTER
    val tmp = new java.io.File(dir,
      s"._table_schema.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    java.nio.file.Files.writeString(tmp.toPath, mapper.writeValueAsString(root))
    val dst = schemaFile(dir)
    // POSIX rename replaces atomically — no delete-first window where a
    // reader would see NO sidecar and silently fall back to inference
    if (!tmp.renameTo(dst)) {
      dst.delete() // non-POSIX fallback
      if (!tmp.renameTo(dst))
        throw new java.io.IOException(s"schema sidecar rename failed in $dir")
    }
  }

  /** The table's partition SPEC in layout order (empty for
    * unpartitioned tables, bare-writer directories, and legacy
    * sidecars). Bare-string entries are identity (the r13 shape);
    * object entries carry their transform. */
  private[sources] def partitionSpecOf(path: String): Seq[PartField] = {
    val dir = new java.io.File(path)
    readSchemaAndDropped(dir) match {
      case Some((schema, _)) =>
        val f = schemaFile(dir)
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(f.toPath))
        Option(root.get("partitions")).toSeq.flatMap { arr =>
          (0 until arr.size()).flatMap { i =>
            val e = arr.get(i)
            if (e.isTextual)
              schema.fields.find(_.name == e.asText()).map(PartField(_))
            else {
              val col = e.get("col").asText()
              schema.fields.find(_.name == col).map(PartField(_,
                e.get("transform").asText(),
                Option(e.get("n")).map(_.asInt()).getOrElse(0)))
            }
          }
        }
      case None => Seq.empty
    }
  }

  /** The partition SOURCE columns (the spec's fields). */
  private[sources] def partitionColsOf(path: String): Seq[StructField] =
    partitionSpecOf(path).map(_.field)

  private[sources] def readSchemaAndDropped(
      dir: java.io.File): Option[(StructType, Set[String])] = {
    val f = schemaFile(dir)
    if (!f.isFile) return None
    val raw = java.nio.file.Files.readString(f.toPath)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(raw)
    Option(root.get("schema")) match {
      case Some(sch) =>
        import scala.jdk.CollectionConverters._
        val dropped = Option(root.get("dropped"))
          .map(_.elements().asScala.map(_.asText()).toSet).getOrElse(Set.empty)
        Some((DataType.fromJson(sch.toString).asInstanceOf[StructType], dropped))
      case None => // legacy: the file IS the schema JSON
        Some((DataType.fromJson(raw).asInstanceOf[StructType], Set.empty))
    }
  }

  private[sources] def readSchema(dir: java.io.File): Option[StructType] =
    readSchemaAndDropped(dir).map(_._1)
}
