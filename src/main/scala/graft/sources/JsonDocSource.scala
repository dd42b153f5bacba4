package graft.sources

import java.util
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Custom DataSource V2 batch source: JSON-lines documents fetched from an
  * "endpoint" (a directory of response bodies), with **source-side filter
  * pushdown** and **column pruning** — the Spark-native generalization of
  * the reference's HTTP source scans whose predicates are encoded into the
  * request (reference `task.ts:89,102`: `includeExpired=false`,
  * `datetime=…`, `productType=avalancheforecast` in the URL; SURVEY.md
  * §2A-1/2/3).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-jsondoc").schema(s).option("path", dir).load()
  * }}}
  *
  * What is real here (and shows in `.explain`):
  *  - `SupportsPushDownFilters`: Eq/Gt/Ge/Lt/Le/IsNotNull on top-level
  *    fields are accepted, evaluated inside the partition reader before a
  *    row is ever materialized to Spark, and reported via `pushedFilters`.
  *  - `SupportsPushDownRequiredColumns`: only requested fields are parsed
  *    into the output row.
  *  - `SupportsPushDownAggregates` (r12, partial mode): global
  *    COUNT(*)/COUNT(col)/MIN/MAX fold scan-side into ONE row per
  *    response file, merged by Spark's final aggregate — the
  *    count-the-matches call an HTTP endpoint would answer without
  *    shipping bodies. Group-bys and order-dependent aggregates are
  *    refused (stay in Spark).
  *  - `SupportsPushDownLimit` (r12, partial): `limit(n)` stops each
  *    file's reader after n surviving rows — later lines never parse.
  *  - `SupportsReportStatistics` (r12): the scan reports its on-disk
  *    bytes, so a small response directory broadcast-joins like a small
  *    parquet dimension instead of defaulting to "unknown = never
  *    broadcast".
  *  - One `InputPartition` per response file → parallel scan.
  *  - `SupportsWrite` (r12): batch V2 writer with two-phase visibility
  *    (dot-prefixed temps, driver-commit rename, truncate for
  *    overwrite) — see [[JsonDocWriteBuilder]]. Schema inference from
  *    existing files replaces the old "schema required" throw, so
  *    `df.write.format("graft-jsondoc").save()` and schema-less reads
  *    of written dirs both work.
  *
  * Scale note: file listing uses the local filesystem for this offline
  * build; a production deployment would swap the listing/open calls for
  * the Hadoop `FileSystem` API (S3/HDFS) or an HTTP pagination protocol —
  * the planning/pushdown machinery is unchanged.
  */
class JsonDocSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsondoc"

  override def supportsExternalMetadata(): Boolean = true

  /** Schema inference (r12 — was a hard "schema required" throw): sample
    * the first response file's leading lines and type each top-level
    * field from its JSON tokens (integral → long, fractional → double,
    * boolean, else string; a field that is integral in one line and
    * fractional in another widens to double). An empty or missing
    * directory infers an EMPTY schema — which is what the WRITE path
    * needs: `df.write.format("graft-jsondoc").save()` resolves the table
    * through this method before any file exists, and the
    * ACCEPT_ANY_SCHEMA capability lets the append carry the query's own
    * schema. Reads of real data may still pass an explicit schema (the
    * recommended, self-documenting form the whole test surface uses). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the change-data-feed read (r15): the table's CURRENT data columns
    // plus the three feed metadata columns — the catalog sidecar wins
    // over file sampling (a sampled pre-rename file would resurrect the
    // old column name), inferred here so the option-driven read
    // (`option("readChanges","true")`) needs no user schema
    if (options.getBoolean("readChanges", false)) {
      val data = GraftCatalog.readSchema(new java.io.File(options.get("path")))
        .getOrElse(JsonDocSource.infer(options.get("path")))
      JsonDocChanges.feedSchema(data)
    } else JsonDocSource.infer(options.get("path"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // change-data-feed table (r15): `readChanges` + optional
    // `startingVersion`/`endingVersion` (both inclusive; a version's
    // entry is the diff against its published predecessor — Delta CDF's
    // option shape). The schema handed in is the feed schema from
    // inferSchema (or a user-declared one) — strip the feed columns to
    // recover the data schema the wrapped snapshot readers need.
    // Spark options are conventionally case-insensitive (inferSchema saw
    // them through a CaseInsensitiveStringMap) — resolve them the same way
    // here, so `.option("readchanges","true")` can't get the feed schema
    // from inferSchema yet a plain snapshot table from getTable (and a
    // mis-cased version bound can't be silently ignored, widening the range).
    val ciProps = new CaseInsensitiveStringMap(properties)
    if (ciProps.getBoolean("readChanges", false)) {
      val meta = Set(JsonDocChanges.ChangeTypeCol, JsonDocChanges.CommitVersionCol,
        JsonDocChanges.CommitMsCol)
      val data = StructType(schema.fields.filterNot(f => meta.contains(f.name)))
      val path = ciProps.get("path")
      // `startingVersion = latest`: only commits AFTER the current head
      // (the batch feed reads empty until one lands; a stream's first
      // offset is the head, so it delivers exactly the future)
      def bound(key: String): Option[Int] =
        Option(ciProps.get(key)).map(_.trim).map {
          case s if s.equalsIgnoreCase("latest") =>
            // startingVersion=latest: only commits AFTER the head;
            // endingVersion=latest: up to the head as of resolution
            // (pins a stream's bounded backfill to a known end)
            val head = JsonDocChanges.publishedVersions(path).lastOption
            if (key == "startingVersion") head.map(_ + 1).getOrElse(1)
            else head.getOrElse(
              throw new IllegalArgumentException(
                s"graft-jsondoc changes: endingVersion=latest on $path, but no " +
                  "published commit exists yet"))
          case s => s.toInt
        }
      def tsBound(key: String): Option[Long] =
        Option(ciProps.get(key)).map(_.trim.toLong)
      // timestamp bounds (Delta CDF's option pair): resolved here to
      // version bounds through the commit times — startingTimestamp =
      // first published commit at or after ts, endingTimestamp = last
      // at or before; mixing a version and a timestamp bound on the
      // same side is ambiguous and refused
      def resolveTs(key: String, start: Boolean): Option[Int] =
        tsBound(key).map { ts =>
          val pub = JsonDocChanges.publishedVersions(path)
          def ms(v: Int) = JsonDocVersions.mtime(path, v).getOrElse(Long.MaxValue)
          if (start)
            pub.find(ms(_) >= ts).getOrElse(
              pub.lastOption.map(_ + 1).getOrElse(1)) // beyond head: empty feed
          else pub.reverse.find(ms(_) <= ts).getOrElse(
            throw new IllegalArgumentException(
              s"graft-jsondoc changes: no published commit of $path at or " +
                s"before endingTimestamp $ts"))
        }
      require(!(bound("startingVersion").isDefined &&
          tsBound("startingTimestamp").isDefined),
        "graft-jsondoc changes: give startingVersion OR startingTimestamp, not both")
      require(!(bound("endingVersion").isDefined &&
          tsBound("endingTimestamp").isDefined),
        "graft-jsondoc changes: give endingVersion OR endingTimestamp, not both")
      // A start the ENGINE resolved past the head ('latest', a timestamp
      // beyond the newest commit, or no start at all) may legitimately land
      // one past an explicit end — the feed is just empty until a commit
      // arrives. An explicit NUMERIC start that inverts the range is a user
      // error and must keep failing (JsonDocChangesScan's require).
      val startRaw = Option(ciProps.get("startingVersion")).map(_.trim)
      val lenientStart = startRaw.forall(_.equalsIgnoreCase("latest"))
      return new JsonDocChangesTable(path, data,
        bound("startingVersion").orElse(resolveTs("startingTimestamp", start = true)),
        bound("endingVersion").orElse(resolveTs("endingTimestamp", start = false)),
        lenientStart = lenientStart)
    }
    // The reader parses only these primitive types and the pushdown
    // comparator only evaluates them; any other declared type would
    // silently corrupt rows (UTF8String in a non-string column) or drop
    // all matches — reject at table creation instead.
    val bad = schema.fields.filterNot(f => JsonDocSource.supportedType(f.dataType))
    require(bad.isEmpty,
      "graft-jsondoc supports long/int/double/boolean/string fields only; unsupported: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    new JsonDocTable(schema, properties.get("path"))
  }
}

/** JVM-wide memo of (table, dir, live-set signature) triples where an
  * auto-compaction attempt ran a full OPTIMIZE planning pass and declined
  * (returned None) — consulted by [[JsonDocBatchWrite.maybeAutocompact]]
  * so steady-state appends to an already-compacted directory don't re-pay
  * the planning I/O forever. Bounded: cleared wholesale when it grows past
  * 4096 entries (the memo is a pure optimization — losing it only costs
  * one redundant planning pass per directory). */
private[sources] object JsonDocAutocompact {
  val declined = new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Unit]()
  /** Test seam: planning attempts per (table, directory) — AutocompactSpec
    * asserts an unchanged at-threshold directory is attempted exactly once,
    * not once per append elsewhere in the table. */
  val attempts = new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()
  def remember(sig: (String, String, Int)): Unit = {
    if (declined.size > 4096) declined.clear()
    if (attempts.size > 8192) attempts.clear() // seam, same pure-memo rule
    declined.put(sig, ())
  }
}

/** DV-DEBT AUTO-COMPACTION (r18, opt-in): the row-level twin of the
  * append-path [[JsonDocAutocompact]]. Procedure-driven MERGE folds —
  * MV refresh, text/ANN index maintenance — land delete vectors +
  * small insert files on a merge-on-read table; without repayment,
  * continuous refresh accumulates an unbounded read-side fold chain.
  * When a row-level commit leaves the live snapshot carrying at least
  * `write.autocompact.dvs` delete vectors, every partition subtree
  * holding a DV'd file OPTIMIZEs inline toward
  * `write.autocompact.target-bytes` (a rewrite folds the DVs into
  * plain data files, so the debt resets). Same contract as the append
  * path: only plain published commits trigger, a declined exact live
  * state is memoized, and a failure warns and moves on — the fold
  * itself already committed. */
private[sources] object JsonDocAutocompactDv {
  private val declined =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Unit]()

  def maybe(path: String): Unit =
    try {
      val props = GraftCatalog.tablePropsOf(path)
      props.get("write.autocompact.dvs").map(_.trim.toInt).filter(_ > 0)
        .foreach { n =>
          val latest = JsonDocVersions.latestVersion(path).getOrElse(0)
          if (latest > 0) {
            val dvs = JsonDocVersions.readDvs(path, latest)
            if (dvs.size >= n) {
              val sig = (path, dvs.toSeq.sorted.hashCode)
              if (!declined.containsKey(sig)) {
                val target = props.get("write.autocompact.target-bytes")
                  .map(_.trim.toLong).getOrElse(32L * 1024 * 1024)
                val dirs = dvs.keySet
                  .map(rel => rel.substring(0, rel.lastIndexOf('/') + 1))
                var any = false
                dirs.toSeq.sorted.foreach { d =>
                  if (GraftCatalog.optimize(path, target, d).nonEmpty) any = true
                }
                if (!any) {
                  if (declined.size > 4096) declined.clear()
                  declined.put(sig, ())
                }
              }
            }
          }
        }
    } catch {
      case e: Exception =>
        Console.err.println(
          s"graft-jsondoc: DV auto-compaction of $path failed (the fold itself " +
            s"committed; the next fold will retry): ${e.getMessage}")
    }
}

/** Test seam (r14): records each directory a [[JsonDocSource.walkDataFiles]]
  * walk LISTS, so PartitionedTableSpec can assert a pruned scan never
  * calls listFiles on an excluded partition directory. Off (and
  * zero-cost beyond one volatile read) outside tests. */
private[sources] object ListingProbe {
  @volatile private[sources] var enabled = false
  private[sources] val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def record(root: String, rel: String): Unit =
    if (enabled) { listed.add(rel); () }
  def reset(): Unit = listed.clear()
}

private[sources] object JsonDocSource {
  /** Name of the `_file` METADATA column (SupportsMetadataColumns): the
    * response-file name a row came from. Doubly load-bearing: (a) the
    * user-visible provenance column (`SELECT _file, ...` through the
    * catalog), and (b) the metadata attribute the row-level rewrite
    * requires — with a metadata projection present, ReplaceDataExec
    * routes rows through the metadata-aware writing task, which strips
    * the engine-internal `__row_operation` column and hands the writer
    * rows in the declared write schema (the plain no-metadata task
    * passes raw MergeRows output straight through). */
  val FileMetaCol = "_file"

  /** Name of the `_pos` METADATA column (r14): a row's 0-based position
    * among its file's non-empty lines — stable because data files are
    * immutable once committed, and ABSOLUTE (pushed filters and folded
    * delete vectors skip rows without shifting later positions). With
    * `_file` it forms the row id of the merge-on-read delta path
    * (Iceberg's position-delete shape). */
  val PosMetaCol = "_pos"

  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType => true
    case _ => false
  }

  /** The DSv2 Transform a PartField declares/distributes as — ONE
    * mapping shared by the table's partitioning() report and the write
    * distribution so they cannot disagree (r14: full time-grain family). */
  private[sources] def transformExprOf(p: GraftCatalog.PartField)
      : org.apache.spark.sql.connector.expressions.Transform = p match {
    case GraftCatalog.PartField(f, "years", _) => Expressions.years(f.name)
    case GraftCatalog.PartField(f, "months", _) => Expressions.months(f.name)
    case GraftCatalog.PartField(f, "days", _) => Expressions.days(f.name)
    case GraftCatalog.PartField(f, "hours", _) => Expressions.hours(f.name)
    case GraftCatalog.PartField(f, "bucket", n) => Expressions.bucket(n, f.name)
    case GraftCatalog.PartField(f, "truncate", w) => Expressions.apply("truncate",
      Expressions.literal(w), Expressions.column(f.name))
    case GraftCatalog.PartField(f, _, _) => Expressions.identity(f.name)
  }

  /** The ONE data-file listing every read path goes through: visible
    * files filtered by manifest liveness ([[JsonDocVersions.liveSet]]) —
    * retired generations stay on disk for time travel but never plan;
    * legacy (manifest-less) directories list every visible file. */
  /** Data files under `path`, recursing into Hive-style `col=value`
    * partition directories (r13 — any other subdirectory is NOT data:
    * checkpoints, user clutter). Keys everywhere — manifests, the stats
    * sidecar, offsets, `_file` — are the RELATIVE path ('/'-separated),
    * which for an unpartitioned table is just the file name, so nothing
    * legacy changes shape. */
  def listDataFiles(path: String, pinned: Option[Int] = None,
      dirPruned: String => Boolean = _ => false): Array[java.io.File] = {
    val all = walkDataFiles(path, dirPruned)
    JsonDocVersions.liveSet(path, pinned) match {
      case Some(live) => all.filter(f => live.contains(relName(path, f)))
        .sortBy(f => relName(path, f))
      case None => all.sortBy(f => relName(path, f))
    }
  }

  /** RAW recursive walk — every on-disk data file, live or retired
    * (vacuum's view; readers use [[listDataFiles]], which applies the
    * manifest live set). `dirPruned` (r14, verdict item 3) is evaluated
    * against each partition directory's RELATIVE prefix BEFORE listing
    * its contents: at 10^5 partition directories the walk itself is the
    * planning cost, so a provably-excluded subtree is never even
    * listed — the same pruner the per-file check compiles, applied one
    * level earlier. The per-file filter stays as the correctness
    * backstop; skipping here only removes listing I/O. */
  def walkDataFiles(path: String,
      dirPruned: String => Boolean = _ => false): Array[java.io.File] = {
    def walk(dir: java.io.File, rel: String): Array[java.io.File] = {
      ListingProbe.record(path, if (rel.isEmpty) "." else rel)
      val entries = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      entries.filter(_.isFile) ++
        entries.filter(f => f.isDirectory && f.getName.contains('='))
          .map(f => (f, if (rel.isEmpty) f.getName else s"$rel/${f.getName}"))
          .filterNot { case (_, r) => dirPruned(r) }
          .flatMap { case (f, r) => walk(f, r) }
    }
    walk(new java.io.File(path), "")
  }

  /** The listing/manifest/stats key of a data file: its path relative to
    * the table root, '/'-separated. Equals the bare file name for
    * unpartitioned layouts. */
  def relName(root: String, f: java.io.File): String = {
    val r = new java.io.File(root).toPath.toAbsolutePath.normalize
    r.relativize(f.toPath.toAbsolutePath.normalize).toString.replace('\\', '/')
  }

  /** The STORAGE-PARTITIONED-JOIN key of one file (r15): decode each
    * partition spec's `dir=value` component from the rel path, in spec
    * order, to the INTERNAL representation of the transform's OUTPUT —
    * which is `dirType` by construction: identity/truncate keep the
    * source type, bucket is the Int ordinal, and the time grains are
    * their ISO-prefix strings (exactly what the FunctionCatalog-bound
    * transform computes, so both join sides key identically). None when
    * any component is missing/undecodable (legacy root files, double
    * identity columns): one unkeyable file withdraws the whole scan's
    * report, never a wrong key. */
  private[sources] def partKeyOf(specs: Seq[GraftCatalog.PartField],
      rel: String): Option[Array[Any]] = {
    if (specs.isEmpty) return None
    val m = scala.collection.mutable.HashMap.empty[String, String]
    rel.split('/').dropRight(1).foreach { c =>
      val eq = c.indexOf('=')
      if (eq > 0) m.update(c.substring(0, eq), c.substring(eq + 1))
    }
    val out = new Array[Any](specs.size)
    var i = 0
    while (i < specs.size) {
      val s = specs(i)
      val raw = m.getOrElse(s.dirName, return None)
      decPartValue(raw, s.dirType) match {
        // decPartValue widens ints to Long for stats ranges; the key
        // must carry the declared Int
        case Some(l: Long) if s.dirType == IntegerType => out(i) = l.toInt
        case Some(str: String) => out(i) = UTF8String.fromString(str)
        case Some(v) => out(i) = v
        case None => return None
      }
      i += 1
    }
    Some(out)
  }

  /** Hive-style partition-value encoding for directory names: URL-encode
    * so '/', '=', '%' and friends can never corrupt the layout. A
    * LEADING '.' or '_' (which URL encoding leaves bare) is additionally
    * percent-escaped — every listing skips dot/underscore names as
    * hidden/meta, so a value like ".hidden" would otherwise produce an
    * invisible partition directory: silent row loss, caught by the
    * PartitionedTableSpec round-trip property. URLDecoder reverses both
    * escapes natively. */
  def encPartValue(v: Any): String = {
    val e = java.net.URLEncoder.encode(String.valueOf(v), "UTF-8")
    if (e.startsWith(".")) "%2E" + e.substring(1)
    else if (e.startsWith("_")) "%5F" + e.substring(1)
    else e
  }

  /** Decode one `col=value` path component's value by the column's
    * declared type; None when the text doesn't parse as that type
    * (callers treat that as "no partition information" — conservative). */
  def decPartValue(raw: String, dt: DataType): Option[Any] = {
    val s = java.net.URLDecoder.decode(raw, "UTF-8")
    try dt match {
      case LongType => Some(s.toLong)
      case IntegerType => Some(s.toInt.toLong) // stats ranges hold longs
      case BooleanType => Some(s.toBoolean)
      case StringType => Some(s)
      case _ => None
    } catch { case _: IllegalArgumentException => None }
  }

  /** Compile a PARTITION-DIRECTORY pruner for this table: IDENTITY
    * components are point ranges for their column, decided by the SAME
    * stats pruner compiled from the effective filters (so In
    * point-upgrade, hoisted runtime-key bounds etc. all apply);
    * TRANSFORM components (r14 — `col_day=…`, `col_bucket=…`) are
    * decided directly against the raw filters through the transform's
    * own monotonicity/point semantics. Runs before any sidecar I/O and
    * for stats-less files too. Returns a rel-name predicate that is
    * true when the file is PROVABLY excluded; undecodable components
    * keep the file (conservative). Shared by the row scan, the
    * aggregate scan, and the micro-batch stream so partition pruning
    * cannot drift between plan shapes (r13). */
  private[sources] def partitionPruned(path: String, filters: Seq[Filter],
      keep: JsonDocStats.FileStats => Boolean): String => Boolean =
    partitionPruned(GraftCatalog.partitionSpecOf(path), filters, keep)

  /** The time-grain prefix of a filter constant under `transform`
    * (years/months/days/hours — r14; None = not grain-comparable →
    * keep). String constants shorter than the grain's ISO prefix cannot
    * be truncated meaningfully; integral numbers are epoch millis. */
  private def timeOfConst(transform: String, v: Any): Option[String] = v match {
    case s: String if s.length >= GraftTransforms.TimePrefixLen(transform) =>
      Some(s.substring(0, GraftTransforms.TimePrefixLen(transform)))
    case l: java.lang.Long => Some(GraftTransforms.timeOfMillis(transform, l))
    case i: java.lang.Integer =>
      Some(GraftTransforms.timeOfMillis(transform, i.longValue()))
    case _ => None
  }

  /** The bucket of a filter constant under `spec` (None → keep). */
  private def bucketOfConst(v: Any, spec: GraftCatalog.PartField): Option[Int] = v match {
    case l: java.lang.Long => Some(GraftTransforms.bucketOf(l.longValue(), spec.buckets))
    case i: java.lang.Integer => Some(GraftTransforms.bucketOf(i.intValue(), spec.buckets))
    case s: String => Some(GraftTransforms.bucketOf(s, spec.buckets))
    case _ => None
  }

  /** Is directory grain-value `d` of column `col` provably excluded
    * under `transform`? Every time grain is monotone in its source, so
    * ranges prune by PREFIX comparison (ISO prefixes compare
    * lexicographically at every grain); equality/In prune on the mapped
    * prefix. Any un-mappable constant keeps. */
  private def timePruned(transform: String, col: String, d: String,
      filters: Seq[Filter]): Boolean =
    filters.exists {
      case EqualTo(a, v) if a == col => timeOfConst(transform, v).exists(_ != d)
      case In(a, vs) if a == col =>
        val ks = vs.filter(_ != null).map(timeOfConst(transform, _))
        ks.nonEmpty && ks.forall(_.isDefined) && !ks.flatten.contains(d)
      case GreaterThan(a, v) if a == col => timeOfConst(transform, v).exists(d < _)
      case GreaterThanOrEqual(a, v) if a == col => timeOfConst(transform, v).exists(d < _)
      case LessThan(a, v) if a == col => timeOfConst(transform, v).exists(d > _)
      case LessThanOrEqual(a, v) if a == col => timeOfConst(transform, v).exists(d > _)
      case _ => false
    }

  /** The truncate(w) image of a filter constant for `spec`'s column
    * (None = wrong type → keep). */
  private def truncOfConst(v: Any, spec: GraftCatalog.PartField): Option[Any] = v match {
    case s: String => Some(GraftTransforms.truncOf(s, spec.buckets))
    case l: java.lang.Long => Some(GraftTransforms.truncOf(l.longValue(), spec.buckets))
    case i: java.lang.Integer => Some(GraftTransforms.truncOf(i.intValue(), spec.buckets))
    case _ => None
  }

  /** Is truncate-directory `d` of `spec` provably excluded? truncate is
    * monotone AND order-preserving within its source type, so ranges
    * prune by comparing truncated images — numerically for integral
    * columns (lexicographic would order "9" after "10"), lexically for
    * strings. Equality/In prune on the image. */
  private def truncPruned(spec: GraftCatalog.PartField, d: Any,
      filters: Seq[Filter]): Boolean = {
    val col = spec.field.name
    // d and the truncated const share the source domain; compare there
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: String, y: String) => x < y
      case _ => false // mixed shapes: never prune
    }
    def norm(x: Any): Any = x match {
      case i: Int => i.toLong
      case other => other
    }
    val dn = norm(d)
    filters.exists {
      case EqualTo(a, v) if a == col =>
        truncOfConst(v, spec).exists(t => norm(t) != dn)
      case In(a, vs) if a == col =>
        val ks = vs.filter(_ != null).map(truncOfConst(_, spec))
        ks.nonEmpty && ks.forall(_.isDefined) && !ks.flatten.map(norm).contains(dn)
      case GreaterThan(a, v) if a == col =>
        truncOfConst(v, spec).exists(t => lt(dn, norm(t)))
      case GreaterThanOrEqual(a, v) if a == col =>
        truncOfConst(v, spec).exists(t => lt(dn, norm(t)))
      case LessThan(a, v) if a == col =>
        truncOfConst(v, spec).exists(t => lt(norm(t), dn))
      case LessThanOrEqual(a, v) if a == col =>
        truncOfConst(v, spec).exists(t => lt(norm(t), dn))
      case _ => false
    }
  }

  /** Is bucket `b` of `spec` provably excluded? Only point shapes
    * prune (a hash destroys order); an equality whose key maps to a
    * different bucket, or an In none of whose keys map here. */
  private def bucketPruned(spec: GraftCatalog.PartField, b: Int,
      filters: Seq[Filter]): Boolean = {
    val col = spec.field.name
    filters.exists {
      case EqualTo(a, v) if a == col => bucketOfConst(v, spec).exists(_ != b)
      case In(a, vs) if a == col =>
        val ks = vs.filter(_ != null).map(bucketOfConst(_, spec))
        ks.nonEmpty && ks.forall(_.isDefined) && !ks.flatten.contains(b)
      case _ => false
    }
  }

  private[sources] def partitionPruned(specs: Seq[GraftCatalog.PartField],
      filters: Seq[Filter],
      keep: JsonDocStats.FileStats => Boolean): String => Boolean = {
    val comps = componentsPruned(specs, filters, keep)
    (rel: String) => comps(rel.split('/').dropRight(1))
  }

  /** Directory-prefix variant (r14): the predicate [[walkDataFiles]]
    * evaluates BEFORE descending into a partition subtree. Same
    * component evaluation as the per-file form — a partial prefix
    * (outer directory of a nested layout) simply has fewer components,
    * each decided independently, so pruning an outer level is sound
    * whenever its own component already excludes every file below. */
  private[sources] def partitionDirPruned(specs: Seq[GraftCatalog.PartField],
      filters: Seq[Filter],
      keep: JsonDocStats.FileStats => Boolean): String => Boolean = {
    val comps = componentsPruned(specs, filters, keep)
    (relDir: String) => comps(relDir.split('/'))
  }

  private def componentsPruned(specs: Seq[GraftCatalog.PartField],
      filters: Seq[Filter],
      keep: JsonDocStats.FileStats => Boolean): Array[String] => Boolean = {
    if (specs.isEmpty) return (_: Array[String]) => false
    val byDir: Map[String, GraftCatalog.PartField] =
      specs.map(s => s.dirName -> s).toMap
    (comps: Array[String]) => {
      var identCols = Map.empty[String, JsonDocStats.ColRange]
      var pruned = false
      comps.foreach { c =>
        val eq = c.indexOf('=')
        if (eq > 0) byDir.get(c.substring(0, eq)).foreach { spec =>
          val rawTxt = c.substring(eq + 1)
          spec.transform match {
            case "identity" =>
              decPartValue(rawTxt, spec.field.dataType).foreach(v =>
                identCols += spec.field.name -> JsonDocStats.ColRange(v, v))
            case t if GraftTransforms.TimePrefixLen.contains(t) =>
              val d = java.net.URLDecoder.decode(rawTxt, "UTF-8")
              if (timePruned(t, spec.field.name, d, filters)) pruned = true
            case "bucket" =>
              // decPartValue(IntegerType) yields a Long (stats-range
              // convention); the bucket id itself is a small int
              decPartValue(rawTxt, IntegerType).foreach { bAny =>
                val b = bAny.asInstanceOf[Long].toInt
                if (bucketPruned(spec, b, filters)) pruned = true
              }
            case "truncate" =>
              decPartValue(rawTxt, spec.dirType).foreach { d =>
                if (truncPruned(spec, d, filters)) pruned = true
              }
            case _ => () // unknown transform: never prune
          }
        }
      }
      pruned || (identCols.nonEmpty && !keep(JsonDocStats.FileStats(-1L, identCols)))
    }
  }

  /** Infer a flat schema from the first response file's first lines
    * (up to 100). Field order = first-seen order. */
  def infer(path: String): StructType = {
    if (path == null) return new StructType()
    listDataFiles(path).headOption match {
      case None => new StructType()
      case Some(f) =>
        val mapper = new ObjectMapper()
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try {
          val fields = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
          src.getLines().filter(_.nonEmpty).take(100).foreach { line =>
            val node = mapper.readTree(line)
            node.fields().asScala.foreach { e =>
              val v = e.getValue
              val t: Option[DataType] =
                if (v.isNull) None
                else if (v.isIntegralNumber) Some(LongType)
                else if (v.isNumber) Some(DoubleType)
                else if (v.isBoolean) Some(BooleanType)
                else Some(StringType)
              (fields.get(e.getKey), t) match {
                case (_, None) => fields.getOrElseUpdate(e.getKey, StringType)
                case (None, Some(dt)) => fields.update(e.getKey, dt)
                case (Some(LongType), Some(DoubleType)) => fields.update(e.getKey, DoubleType)
                case (Some(old), Some(dt)) if old != dt && !(old == DoubleType && dt == LongType) =>
                  fields.update(e.getKey, StringType)
                case _ => ()
              }
            }
          }
          StructType(fields.map { case (n, dt) => StructField(n, dt) }.toSeq)
        } finally src.close()
    }
  }
}

private[sources] class JsonDocTable(schema: StructType, path: String,
    pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  require(path != null, "graft-jsondoc requires option(\"path\", ...)")

  /** The table directory — what MV validation needs to pin the base of
    * a `CREATE MATERIALIZED VIEW` body to a concrete lineage (r17). */
  private[sources] def tablePath: String = path
  private[sources] def pinned: Option[Int] = pinnedVersion

  // ---- SupportsPartitionManagement (r17, verdict item 6) -------------
  //
  // `SHOW PARTITIONS t` and `ALTER TABLE t DROP PARTITION (...)` become
  // native — the r13 `t#partitions` detour stays for the stats columns,
  // but the standard SQL surface now works. Partition identifiers use
  // the DIRECTORY schema (`dirName`/`dirType` — `ts_day='2024-01-15'`,
  // `k_bucket=3`), the same coordinates the layout itself uses, so a
  // transform partition addresses exactly one directory. DROP PARTITION
  // is the q220 metadata delete scoped to one directory prefix: retire
  // the partition's live files in one manifest commit, O(matching
  // files) driver arithmetic, no data I/O. ADD/rename make no sense in
  // a lakehouse layout (partitions are derived from data) and refuse
  // loudly.

  override def partitionSchema(): StructType =
    StructType(GraftCatalog.partitionSpecOf(path).map(p =>
      StructField(p.dirName, p.dirType, nullable = false)))

  /** The `dirName=<enc>` relative prefix of one partition identifier. */
  private def partPrefix(ident: org.apache.spark.sql.catalyst.InternalRow): String = {
    val spec = GraftCatalog.partitionSpecOf(path)
    require(spec.nonEmpty, s"graft-jsondoc: $path is not partitioned")
    spec.zipWithIndex.map { case (p, i) =>
      val v = ident.get(i, p.dirType) match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case other => other
      }
      s"${p.dirName}=${JsonDocSource.encPartValue(v)}"
    }.mkString("/")
  }

  override def createPartition(ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-jsondoc: partitions are derived from data — INSERT rows with " +
        "the partition values instead of ADD PARTITION")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft-jsondoc: partition metadata is not writable")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow):
      java.util.Map[String, String] = new java.util.HashMap[String, String]()

  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(!branchSession,
      "graft-jsondoc: DROP PARTITION commits to the PUBLISHED table and cannot " +
        "be staged on a branch — unset write.wap.branch (publish first)")
    val prefix = partPrefix(ident) + "/"
    val removed = JsonDocSource.listDataFiles(path, pinnedVersion)
      .map(f => JsonDocSource.relName(path, f))
      .filter(_.startsWith(prefix)).toSet
    if (removed.isEmpty) return false
    JsonDocVersions.commitDelta(path, removed, Set.empty, op = "drop-partition")
    true
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow):
      Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val spec = GraftCatalog.partitionSpecOf(path)
    require(spec.nonEmpty, s"graft-jsondoc: $path is not partitioned")
    val idx = names.map(n => spec.indexWhere(_.dirName == n))
    require(idx.forall(_ >= 0),
      s"graft-jsondoc: unknown partition column(s) ${names.mkString(", ")} — " +
        s"partition schema is ${spec.map(_.dirName).mkString(", ")}")
    def decode(raw: String, dt: DataType): Option[Any] = {
      val s = java.net.URLDecoder.decode(raw, "UTF-8")
      try dt match {
        case LongType => Some(s.toLong)
        case IntegerType => Some(s.toInt)
        case BooleanType => Some(s.toBoolean)
        case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      } catch { case _: IllegalArgumentException => None }
    }
    val parts = JsonDocSource.listDataFiles(path, pinnedVersion)
      .map(f => JsonDocSource.relName(path, f))
      .flatMap { rel =>
        val cut = rel.lastIndexOf('/')
        if (cut < 0) None else Some(rel.substring(0, cut))
      }.distinct.sorted
    parts.flatMap { part =>
      val comps = part.split('/')
      if (comps.length != spec.length) None
      else {
        val vals = spec.zip(comps.toSeq).map { case (p, c) =>
          val eq = c.indexOf('=')
          if (eq < 0 || c.substring(0, eq) != p.dirName) None
          else decode(c.substring(eq + 1), p.dirType)
        }
        if (vals.exists(_.isEmpty)) None
        else {
          val row = org.apache.spark.sql.catalyst.InternalRow(vals.map(_.get): _*)
          val keep = idx.zipWithIndex.forall { case (pi, ni) =>
            row.get(pi, spec(pi).dirType) == ident.get(ni, spec(pi).dirType)
          }
          if (keep) Some(row) else None
        }
      }
    }
  }

  /** METADATA-ONLY DELETE (r16 self-review — closes a REAL silent
    * no-op): `DELETE FROM t` with a statically-true condition used to
    * produce an EMPTY rewrite side (the optimizer collapses the
    * remaining-rows scan to an empty relation), so the replace scope
    * never reported and the copy-on-write commit retired NOTHING —
    * three rows in, DELETE, three rows still there. With
    * [[org.apache.spark.sql.connector.catalog.SupportsDelete]], Spark's
    * OptimizeMetadataOnlyDeleteFromTable swaps the rewrite for
    * `deleteWhere` whenever `canDeleteWhere` holds — which is also the
    * Iceberg/Delta fast path: whole-table truncation and
    * identity-partition point deletes retire files in ONE manifest
    * commit, no data read or written.
    *
    * `canDeleteWhere` accepts exactly what `deleteWhere` can prove
    * FILE-GRANULAR: AlwaysTrue (retire the whole live set), or
    * EqualTo/In over IDENTITY partition columns when every live file
    * sits under a decodable directory for every referenced column (a
    * file's identity component decides ALL its rows at once). Anything
    * else — data-column predicates, transform components, undecodable
    * legacy files — returns false and the ordinary rewrite runs.
    * Retired files keep their stats/bloom/DV sidecars (time travel);
    * the change feed emits their delete images through its generic
    * removed-files path. */
  /** A `write.wap.branch` session must never take a PUBLISHED-state
    * shortcut (r17 self-review — a REAL leak): the metadata DELETE,
    * TRUNCATE and DROP PARTITION paths commit straight to the
    * published table, so under a branch property a no-WHERE or
    * partition-predicate DELETE would land VISIBLY while the user
    * believes it is staged on the branch. canDeleteWhere withdraws —
    * the optimizer has already swapped the row-level plan for the
    * metadata shortcut by the time it asks, so a metadata-shaped
    * condition REFUSES LOUDLY at planning ("Cannot delete from
    * table...") rather than leaking; data-predicate deletes never
    * enter the shortcut and stage on the branch correctly.
    * truncate/drop-partition refuse with an explicit message, matching
    * the overwrite rule. */
  private def branchSession: Boolean =
    GraftCatalog.tablePropsOf(path).contains("write.wap.branch")

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty && !branchSession &&
      JsonDocTable.metadataDeleteSet(path, filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val removed = JsonDocTable.metadataDeleteSet(path, filters).getOrElse(
      throw new IllegalStateException(
        s"graft-jsondoc: deleteWhere called for filters canDeleteWhere rejected: " +
          filters.mkString(", ")))
    if (removed.nonEmpty)
      JsonDocVersions.commitDelta(path, removed, Set.empty, op = "delete")
  }

  override def truncateTable(): Boolean = {
    require(!branchSession,
      "graft-jsondoc: TRUNCATE commits to the PUBLISHED table and cannot be " +
        "staged on a branch — unset write.wap.branch (publish first) to truncate")
    val live = JsonDocVersions.latest(path).map(_._2).getOrElse(
      JsonDocSource.listDataFiles(path).map(f => JsonDocSource.relName(path, f)).toSet)
    if (live.nonEmpty)
      JsonDocVersions.commitDelta(path, live, Set.empty, op = "truncate")
    true
  }
  override def name(): String =
    s"graft-jsondoc($path${pinnedVersion.map(v => s"@v$v").getOrElse("")})"
  override def schema(): StructType = schema0
  private val schema0 = schema
  // ACCEPT_ANY_SCHEMA: the write carries the QUERY's schema (validated
  // in newWriteBuilder), so appends into a fresh directory — where the
  // inferred table schema is empty — resolve; TRUNCATE backs
  // mode("overwrite"). The capability is granted ONLY while the schema
  // is unknown (empty): on a known-schema table it would do real harm —
  // the analyzer deliberately refuses to resolve MERGE/UPDATE column
  // references against an accept-any-schema target (the names carry no
  // meaning there), which would break the row-level SQL surface, and
  // normal write-side column alignment is skipped too.
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // r16: INSERT OVERWRITE ... PARTITION (static filters) and
      // partitionOverwriteMode=dynamic — see JsonDocWriteBuilder
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)
    (if (schema0.isEmpty) base + TableCapability.ACCEPT_ANY_SCHEMA else base).asJava
  }
  // partitioned layout (r13 identity; r14 days/bucket): declared so
  // SHOW CREATE/catalog surfaces report it, and so EXPLAIN shows the
  // table as partitioned
  private lazy val partSpec0: Seq[GraftCatalog.PartField] =
    GraftCatalog.partitionSpecOf(path)

  /** Standard constraint surface (r15): the enforced CHECKs, rebuilt
    * from the `constraint.*` sidecar properties — one source of truth
    * with the writers' per-row enforcement. Informational key
    * constraints stay property-visible (`table_constraint.*`); their
    * DDL strings are not reconstructed into typed objects. */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftCatalog.tablePropsOf(path).toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith(GraftConstraints.Prefix) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix(GraftConstraints.Prefix))
          .predicateSql(sql).enforced(true).build():
          org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partSpec0.map(JsonDocSource.transformExprOf).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonDocScanBuilder(schema0, path, pinned = pinnedVersion)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"graft-jsondoc: cannot write to pinned version ${pinnedVersion.get} (time-travel reads are read-only)")
    new JsonDocWriteBuilder(path, info, truncateFirst = false)
  }
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      "graft-jsondoc: row-level operations on a pinned version are not allowed")
    // DECLARED mode (r14): `write.rowlevel.mode = merge-on-read` plans
    // WriteDelta (per-file delete vectors + insert files, no data file
    // rewritten); the default plans copy-on-write ReplaceData. See
    // [[JsonDocDeltaOperation]] for why the choice is per-table, not a
    // plan-time matched-fraction guess.
    val mor = GraftCatalog.tablePropsOf(path)
      .get("write.rowlevel.mode").contains("merge-on-read")
    () =>
      if (mor) new JsonDocDeltaOperation(schema0, path, info.command())
      else new JsonDocRowLevelOperation(schema0, path, info.command())
  }
  override def properties(): util.Map[String, String] =
    GraftCatalog.tablePropsOf(path).asJava
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = JsonDocSource.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "response file this row was read from"
    },
    new MetadataColumn {
      override def name(): String = JsonDocSource.PosMetaCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "0-based row position within its file"
    })
}

/** GROUP-BASED (copy-on-write) row-level operation backing SQL
  * `MERGE INTO` / `UPDATE` / `DELETE` against a catalog-resolved
  * jsondoc table (see [[GraftCatalog]]). Spark's rewrite rules
  * (RewriteMergeIntoTable and friends) turn the command into
  * `ReplaceData(newScanBuilder → rows → merge logic → newWriteBuilder)`:
  * the scan reads the affected groups, the plan computes each row's
  * fate, and the write REPLACES what was read. The GROUP here is the
  * FILE: `_file` is a required metadata attribute, so Spark's
  * RowLevelOperationRuntimeGroupFiltering pre-scans the table
  * semi-joined with the source on the command's condition and delivers
  * the matching file names to the rewrite scan as a runtime
  * `In(_file, ...)` — only files containing affected rows are read,
  * and the commit deletes exactly the files the scan PLANNED (the
  * `replaceScope` seam) before renaming the temps, so pruned files are
  * neither read nor rewritten. Same two-phase visibility as every
  * other write: temps invisible, driver commit deletes+renames, a
  * crash mid-operation leaves the ORIGINAL table intact
  * (copy-on-write's whole point). The rewrite scan runs with
  * `acceptPushdown = false` — see [[JsonDocScanBuilder]] for why a
  * pushed or runtime DATA filter under a group rewrite would silently
  * delete rows; the `_file` runtime filter is the one safe exception
  * because it excludes whole groups (see the filterAttributes note on
  * [[JsonDocScan]]).
  *
  * Scale note: this is the Iceberg/Delta copy-on-write shape — at
  * 100 TB a MERGE touching 0.1% of keys rewrites the files holding
  * those keys, not the table; the group-filter pre-scan is one
  * semi-join over the (pushdown-capable) normal read path. */
private[sources] class JsonDocRowLevelOperation(schema: StructType, path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {
  /** The rewrite scan's final planned file set — written by
    * planInputPartitions (last call wins; runtime group filters only
    * ever narrow it) and read by the commit to scope the replace. */
  private val planned =
    new java.util.concurrent.atomic.AtomicReference[Array[String]](null)
  /** The delete-vector map the rewrite scan FOLDED (r14): the commit
    * hands it to commitDelta as the dv conflict basis — retiring a file
    * whose DV was repointed since the scan would resurrect the
    * concurrent deletes in the rewritten output. */
  private val dvBasis =
    new java.util.concurrent.atomic.AtomicReference[Map[String, String]](null)

  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonDocScanBuilder(schema, path, acceptPushdown = false,
      plannedSink = Some(planned.set), dvSink = Some(dvBasis.set))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new JsonDocWriteBuilder(path, info, truncateFirst = false,
      replaceScope = Some(() => Option(planned.get).map(_.toSet)),
      dvBasisScope = Some(() => Option(dvBasis.get)))
  /** `_file` is required for a correctness reason beyond provenance: a
    * row-level write WITHOUT a metadata projection takes the plain
    * writing task, which hands the writer MergeRows' raw output — the
    * `__row_operation` int still prepended — silently corrupting every
    * written row (measured during bring-up: longs reread as denormal
    * doubles). With it, the engine projects data and metadata apart and
    * the writer sees exactly the declared write schema. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(JsonDocSource.FileMetaCol))
}

/** DSv2 batch WRITER (r12 — the sink half of the source, generalizing
  * the reference's collect+submit §2A-17 into the V2 commit protocol):
  * JSON-lines response files with two-phase visibility. Each task
  * writes a DOT-PREFIXED temp file (invisible to every reader — the
  * listings skip '.'/'_' names), task commit only REPORTS the temp; the
  * DRIVER's job commit renames all temps to visible `part-*.jsonl` in
  * one pass, after deleting prior visible files if truncating. A failed
  * task aborts by deleting its temp; a failed JOB aborts by deleting
  * every reported temp — in both cases no reader ever observes partial
  * output (the same no-partial-output contract the fail-fast scan test
  * pins, now on the write side). Local-FS rename is atomic per file; a
  * cloud deployment swaps the rename for its store's commit primitive,
  * the protocol shape is unchanged. */
private[sources] class JsonDocWriteBuilder(path: String, info: LogicalWriteInfo,
    truncateFirst: Boolean,
    replaceScope: Option[() => Option[Set[String]]] = None,
    dvBasisScope: Option[() => Option[Map[String, String]]] = None,
    overwriteFilters: Option[Array[Filter]] = None,
    dynamicOverwrite: Boolean = false)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  {
    val bad = info.schema().fields.filterNot(f => JsonDocSource.supportedType(f.dataType))
    require(bad.isEmpty,
      "graft-jsondoc writes long/int/double/boolean/string fields only; unsupported: " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
  }
  override def truncate(): WriteBuilder =
    new JsonDocWriteBuilder(path, info, truncateFirst = true, replaceScope, dvBasisScope)

  /** OVERWRITE BY FILTER (r16 — `INSERT OVERWRITE t PARTITION (p = v)`):
    * retire exactly the files the filters prove file-granular (the
    * [[JsonDocTable.metadataDeleteSet]] rule: AlwaysTrue, or
    * EqualTo/In/IsNotNull over identity partition columns with every
    * live file decodable) and land the new files in the SAME commit —
    * one atomic snapshot, cold partitions untouched. Unprovable filters
    * refuse HERE, at planning, loudly. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) return truncate()
    require(JsonDocTable.metadataDeleteSet(path, filters).isDefined,
      "graft-jsondoc: INSERT OVERWRITE by filter needs predicates provable " +
        "file-granular — equality/IN over IDENTITY partition columns with every " +
        s"live file under a decodable directory; got: ${filters.mkString(", ")}")
    new JsonDocWriteBuilder(path, info, truncateFirst = false, replaceScope,
      dvBasisScope, overwriteFilters = Some(filters))
  }

  /** DYNAMIC PARTITION OVERWRITE (r16 — Iceberg/Delta's
    * `partitionOverwriteMode = dynamic`): replace exactly the partition
    * DIRECTORIES the write touches, atomically with the new files; an
    * empty write replaces nothing (the standard dynamic contract). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(GraftCatalog.partitionSpecOf(path).nonEmpty,
      "graft-jsondoc: dynamic partition overwrite needs a partitioned table — " +
        "use plain INSERT OVERWRITE (truncate) on an unpartitioned one")
    new JsonDocWriteBuilder(path, info, truncateFirst = false, replaceScope,
      dvBasisScope, dynamicOverwrite = true)
  }
  override def build(): Write = {
    val partSpec = GraftCatalog.partitionSpecOf(path)
    // A PARTITIONED write asks Spark for a CLUSTERED distribution on the
    // partition TRANSFORMS (r13 identity; r14 days/bucket — Iceberg's
    // hash distribution mode): rows of one partition DIRECTORY co-locate
    // in one task, so the routing writer keeps O(dirs/tasks) open files
    // instead of every task potentially touching every partition — the
    // open-file/small-file fan-out that kills partitioned writes at
    // scale. Transform expressions resolve through the catalog's
    // FunctionCatalog ([[GraftTransforms]]), whose bound functions
    // compute exactly the writer's directory values; a transform-
    // partitioned table must therefore be written THROUGH the catalog
    // (a bare path write fails loudly at analysis, never mis-routes).
    // Unpartitioned writes request nothing and plan exactly as before.
    // HOT-PARTITION escape hatch (r14, verdict item 6): the clustered
    // distribution routes each partition VALUE through one task — the
    // small-file optimum, but a skewed hot partition then serializes
    // through that task and AQE cannot split it (one partition value,
    // not one shuffle partition). `write.distribution = none` (Iceberg's
    // fanout mode) skips the clustering: every input task writes the
    // partitions it sees, so a hot partition's rows keep their upstream
    // parallelism and land as k files in ONE directory (the layout
    // allows it; OPTIMIZE compacts them later). Default stays hash.
    val fanout =
      GraftCatalog.tablePropsOf(path).get("write.distribution").contains("none")
    def transformExprs = partSpec.map(JsonDocSource.transformExprOf)
    // PARTITION-LOCAL range clustering (r14, verdict item 7): a
    // `cluster-by` write option asks for an ORDERED distribution on
    // (partition transforms, cluster column) — Spark range-partitions
    // and sorts, so within each partition DIRECTORY the files hold
    // contiguous ranges of the cluster column (the q188 write-set bound,
    // now available to partitioned MVs). `cluster-buckets` caps the
    // total task count. Used by [[GraftCatalog.cluster]]'s partitioned
    // path; plain writes never set it.
    val clusterBy = Option(info.options.get("cluster-by"))
    val clusterBuckets = Option(info.options.get("cluster-buckets")).map(_.toInt)
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      private def orderedSorts: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        (transformExprs ++ clusterBy.map(c => Expressions.identity(c)))
          .map(e => Expressions.sort(e,
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
        if (clusterBy.isDefined && partSpec.nonEmpty)
          org.apache.spark.sql.connector.distributions.Distributions.ordered(orderedSorts)
        else if (partSpec.isEmpty || fanout)
          org.apache.spark.sql.connector.distributions.Distributions.unspecified()
        else
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            transformExprs.map(t => t: org.apache.spark.sql.connector.expressions.Expression).toArray)
      override def requiredNumPartitions(): Int =
        if (clusterBy.isDefined && partSpec.nonEmpty) clusterBuckets.getOrElse(0) else 0
      override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        if (clusterBy.isDefined && partSpec.nonEmpty) orderedSorts else Array.empty
      // WAP staging (r14): the `staged` write option (or the
      // `write.wap.staged` table property, for SQL DML with no option
      // channel) lands this commit as a STAGED snapshot — invisible to
      // every current read until `CALL publish`
      private def staged: Boolean = branch.isDefined ||
        Option(info.options.get("staged")).contains("true") ||
          GraftCatalog.tablePropsOf(path).get("write.wap.staged").contains("true")
      // BRANCH writes (r14): `branch` write option / `write.wap.branch`
      // property — a staged commit CHAINED on the named branch's head,
      // so multi-commit audit flows build on each other while invisible
      private def branch: Option[String] =
        Option(info.options.get("branch"))
          .orElse(GraftCatalog.tablePropsOf(path).get("write.wap.branch"))
      // CHECK constraints compiled at PLANNING (driver), shipped bound
      // (r14): a constraint the write schema cannot resolve fails here,
      // loudly, before any task runs
      private def checks: Seq[GraftConstraints.Check] =
        GraftConstraints.forWrite(path, info.schema())
      override def toBatch: BatchWrite = {
        // branch chains are APPEND-ONLY (r14): a truncate or row-level
        // rewrite SCANS the published table, so retiring those files
        // against a branch head whose live set has moved on is
        // incoherent — refused loudly rather than silently misapplied
        require(branch.isEmpty || (!truncateFirst && replaceScope.isEmpty &&
          overwriteFilters.isEmpty && !dynamicOverwrite),
          "graft-jsondoc: branch writes are append-only — publish the branch " +
            "first, then run the overwrite/row-level op on the published table")
        new JsonDocBatchWrite(path, info.schema(), info.queryId(), truncateFirst,
          replaceScope, dvBasisScope, staged = staged, checks = checks,
          branch = branch, clusterRewrite =
            Option(info.options.get("maintenance-rewrite")).exists(_.toBoolean),
          overwriteFilters = overwriteFilters, dynamicOverwrite = dynamicOverwrite)
      }
      override def toStreaming: StreamingWrite = {
        require(!truncateFirst,
          "graft-jsondoc streaming write supports append output mode only")
        require(!staged,
          "graft-jsondoc: staged (write-audit-publish) writes are a batch " +
            "pattern — a streaming sink's epochs are their own checkpointed " +
            "protocol and publish exactly-once already")
        // STREAMING UPSERT (r15, equality deletes): `upsert-keys` names
        // the identifier columns — each epoch then lands its rows PLUS
        // one equality-delete of their keys, so the table reads as the
        // per-key last image with zero base-table scans per epoch (the
        // CDC shape position deletes cannot express). The optional
        // `upsert-cdc-col` marks a STRING column whose 'D' rows are
        // delete-only: their key folds, no row lands, and the column
        // itself is stripped before storage.
        val upsertKeys = Option(info.options.get("upsert-keys"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
        val cdcCol = Option(info.options.get("upsert-cdc-col")).map(_.trim).filter(_.nonEmpty)
        if (upsertKeys.nonEmpty) {
          val names = info.schema().fieldNames.toSet
          val missing = upsertKeys.filterNot(names.contains)
          require(missing.isEmpty,
            s"graft-jsondoc: upsert-keys name columns the stream does not carry: " +
              missing.mkString(", "))
          cdcCol.foreach { c =>
            require(names.contains(c), s"graft-jsondoc: upsert-cdc-col '$c' is not in the stream schema")
            require(info.schema()(c).dataType == org.apache.spark.sql.types.StringType,
              s"graft-jsondoc: upsert-cdc-col '$c' must be STRING ('D' = delete)")
            require(!upsertKeys.contains(c),
              "graft-jsondoc: the CDC op column cannot be an upsert key")
          }
        } else require(cdcCol.isEmpty,
          "graft-jsondoc: upsert-cdc-col requires upsert-keys")
        new JsonDocStreamingWrite(path, info.schema(), info.queryId(), partSpec,
          checks = checks, upsertKeys = upsertKeys, cdcCol = cdcCol)
      }
    }
  }
}

private[sources] case class JsonDocCommitMessage(tmpName: String, finalName: String,
    statsJson: String = "", bloomJson: String = "") extends WriterCommitMessage

/** A partition-routing task touches several directories in one task —
  * one commit message carrying each directory's file (r13). */
private[sources] case class JsonDocMultiCommitMessage(
    parts: Seq[JsonDocCommitMessage]) extends WriterCommitMessage

private[sources] object JsonDocCommitMessage {
  /** Normalize single- and multi-file commit messages. */
  def entriesOf(m: WriterCommitMessage): Seq[JsonDocCommitMessage] = m match {
    case s: JsonDocCommitMessage => Seq(s)
    case mm: JsonDocMultiCommitMessage => mm.parts
    case u: JsonDocUpsertCommitMessage => u.inner.toList.flatMap(entriesOf)
  }
}

/** One upsert task's contribution (r15): the key tuples it saw (both
  * upserted and CDC-deleted rows; canonical boxes — Long/Double/
  * Boolean/String) plus the inner data-file message for the inserted
  * rows (None when the task saw deletes only). Key volume is the
  * epoch's row count — the quantity a CDC batch keeps small. */
private[sources] case class JsonDocUpsertCommitMessage(
    keys: Seq[Seq[Any]],
    inner: Option[WriterCommitMessage]) extends WriterCommitMessage

/** Per-file statistics sidecar (`_stats.json` — underscore-prefixed, so
  * every reader listing already skips it as data). Written by the
  * DRIVER at job/epoch commit from per-task accumulated min/max, merged
  * with the existing sidecar on append (keyed by final file name, so
  * streaming epoch replays overwrite their own entry — the same
  * idempotency key as the data files), cleared on truncate, and
  * replaced atomically (dot-temp + rename). The scan prunes whole files
  * whose [min,max] cannot satisfy the effective filters — including
  * RUNTIME In filters, which arrive before partition planning — the
  * file-skipping this source otherwise cannot do (no parquet footers).
  * Every decision is conservative: missing sidecar, missing file entry,
  * missing column range, or an incomparable value type all KEEP the
  * file; only a range that provably excludes every filter value skips
  * it. Rows where the filtered column is null are safe to skip on
  * because EqualTo/</>/In never match null (IsNotNull never prunes). */
/** Per-file, per-column NDV sketch (r17, verdict item 4): a 256-register
  * HyperLogLog (Flajolet et al. 2007; p = 8, ~6.5% relative error) over
  * the writer's value hashes — small enough to ride in the stats
  * sidecar (344 base64 chars per column per file), MERGEABLE by
  * register max so the table-level distinct count assembles from file
  * sketches with no re-scan. The consumer is the PLANNER
  * ([[JsonDocScan.estimateStatistics]]'s columnStats): with CBO on, a
  * selective equality filter's output estimate shrinks by 1/ndv, which
  * is what lets a filtered BIG table win the broadcast side of a join
  * — the wrong-side broadcast at 100× is a real failure mode the
  * size-only estimate cannot avoid. Planning-only: an NDV is never a
  * correctness input. */
private[sources] object JsonDocNdv {
  val P = 8
  val M: Int = 1 << P // 256 registers

  def empty: Array[Byte] = new Array[Byte](M)

  /** Fold one 64-bit value hash: register index = top P bits, rank =
    * leading zeros of the rest + 1 (capped by the shifted-in guard). */
  def add(reg: Array[Byte], h: Long): Unit = {
    val idx = (h >>> (64 - P)).toInt
    val rank = (java.lang.Long.numberOfLeadingZeros((h << P) | (1L << (P - 1))) + 1)
    if (rank > reg(idx)) reg(idx) = rank.toByte
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](M)
    var i = 0
    while (i < M) { out(i) = if (a(i) >= b(i)) a(i) else b(i); i += 1 }
    out
  }

  /** The standard estimator with the small-range (linear counting)
    * correction — the regime file-level sketches mostly live in. */
  def estimate(reg: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += java.lang.Math.pow(2.0, -reg(i).toDouble)
      if (reg(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * M * M / sum
    val corrected =
      if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else e
    math.round(corrected)
  }

  def toB64(reg: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(reg)
  def fromB64(s: String): Option[Array[Byte]] =
    try Some(java.util.Base64.getDecoder.decode(s)).filter(_.length == M)
    catch { case _: IllegalArgumentException => None }

  /** The writer-side value hash per supported type — the same hash
    * family the bloom accumulators use, so one pass feeds both. */
  def hashValue(v: Any): Long = v match {
    case l: Long => JsonDocBlooms.hashLong(l)
    case i: Int => JsonDocBlooms.hashLong(i.toLong)
    case d: Double => JsonDocBlooms.hashLong(java.lang.Double.doubleToLongBits(d))
    case b: Boolean => JsonDocBlooms.hashLong(if (b) 1L else 0L)
    case s: String => JsonDocBlooms.hashConst(s).get
    case u: org.apache.spark.unsafe.types.UTF8String =>
      JsonDocBlooms.hashConst(u.toString).get
    case other => JsonDocBlooms.hashConst(String.valueOf(other)).getOrElse(0L)
  }
}

private[sources] object JsonDocStats {
  val SidecarName = "_stats.json"

  /** One column's closed range over the file's NON-NULL values.
    * min/max are Long, Double, or String (the three shapes the writer
    * accumulates; booleans aren't worth pruning on). */
  final case class ColRange(min: Any, max: Any)

  /** `ndv` = per-column HLL registers ([[JsonDocNdv]]); `nulls` =
    * per-column null counts. Both PLANNING inputs only (column
    * statistics for CBO), both optional — absent in legacy entries and
    * dropped conservatively by [[union]] when any input lacks them. */
  final case class FileStats(rows: Long, cols: Map[String, ColRange],
      ndv: Map[String, Array[Byte]] = Map.empty,
      nulls: Map[String, Long] = Map.empty)

  private def writeVal(node: com.fasterxml.jackson.databind.node.ObjectNode,
      key: String, v: Any): Unit = v match {
    case l: Long => node.put(key, l)
    case d: Double => node.put(key, d)
    case s: String => node.put(key, s)
    case _ => ()
  }

  private def readVal(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else n.asText()

  /** Merge the stats of files being concatenated (OPTIMIZE): rows sum,
    * per-column ranges widen. A column missing from some input stays —
    * missing means that file's values were all NULL, and nulls never
    * extend a range nor match a pruning predicate. Incomparable range
    * endpoints drop the column (conservative: the merged file just
    * isn't pruned on it); any input with NO stats entry at all drops
    * the whole merged entry (rows would be a lie). */
  def union(entries: Seq[Option[FileStats]]): Option[FileStats] = {
    if (entries.isEmpty || entries.exists(_.isEmpty)) return None
    val ss = entries.flatten
    val cols = scala.collection.mutable.Map.empty[String, ColRange]
    val dropped = scala.collection.mutable.Set.empty[String]
    ss.foreach(_.cols.foreach { case (c, r) =>
      if (!dropped(c)) cols.get(c) match {
        case None => cols(c) = r
        case Some(prev) => (cmp(r.min, prev.min), cmp(r.max, prev.max)) match {
          case (Some(a), Some(b)) =>
            cols(c) = ColRange(if (a < 0) r.min else prev.min,
              if (b > 0) r.max else prev.max)
          case _ => cols.remove(c); dropped += c
        }
      }
    })
    // NDV registers merge by max, null counts sum — but only for
    // columns EVERY input carries (a legacy entry without a sketch
    // makes the merged figure a lie; absent = unknown, conservative)
    val ndvKeys = ss.map(_.ndv.keySet).reduce(_ & _)
    val ndv = ndvKeys.map(c =>
      c -> ss.map(_.ndv(c)).reduce(JsonDocNdv.merge)).toMap
    val nullKeys = ss.map(_.nulls.keySet).reduce(_ & _)
    val nulls = nullKeys.map(c => c -> ss.map(_.nulls(c)).sum).toMap
    Some(FileStats(ss.map(_.rows).sum, cols.toMap, ndv, nulls))
  }

  def toJson(s: FileStats): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("rows", s.rows)
    val cols = root.putObject("cols")
    s.cols.foreach { case (name, r) =>
      val c = cols.putObject(name)
      writeVal(c, "min", r.min)
      writeVal(c, "max", r.max)
    }
    if (s.ndv.nonEmpty) {
      val nd = root.putObject("ndv")
      s.ndv.foreach { case (name, reg) => nd.put(name, JsonDocNdv.toB64(reg)); () }
    }
    if (s.nulls.nonEmpty) {
      val nl = root.putObject("nulls")
      s.nulls.foreach { case (name, n) => nl.put(name, n); () }
    }
    mapper.writeValueAsString(root)
  }

  private def parseFile(n: JsonNode): FileStats = {
    val cols = Option(n.get("cols")).map { c =>
      c.fields().asScala.map { e =>
        e.getKey -> ColRange(readVal(e.getValue.get("min")), readVal(e.getValue.get("max")))
      }.toMap
    }.getOrElse(Map.empty)
    val ndv = Option(n.get("ndv")).map { c =>
      c.fields().asScala.flatMap(e =>
        JsonDocNdv.fromB64(e.getValue.asText()).map(e.getKey -> _)).toMap
    }.getOrElse(Map.empty[String, Array[Byte]])
    val nulls = Option(n.get("nulls")).map { c =>
      c.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    FileStats(Option(n.get("rows")).map(_.asLong()).getOrElse(-1L), cols, ndv, nulls)
  }

  /** Load the sidecar; any parse problem degrades to "no stats". */
  def load(path: String): Map[String, FileStats] = {
    val f = new java.io.File(path, SidecarName)
    if (!f.isFile) return Map.empty
    try {
      val root = new ObjectMapper().readTree(f)
      Option(root.get("files")).map { files =>
        files.fields().asScala.map(e => e.getKey -> parseFile(e.getValue)).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Exception => Map.empty }
  }

  /** Merge new per-file entries into the sidecar and replace it
    * atomically. Driver-side only, under the commit's single-writer
    * contract. `keepExisting=false` drops prior entries (truncate). */
  /** Same-JVM writers serialize per table path (r13): the sidecar is a
    * read-modify-write, so two concurrent driver-side commits could drop
    * each other's fresh entries (never wrong answers — a missing entry
    * only disables pruning/exact counts — but needless conservatism).
    * Cross-PROCESS races keep that benign degradation; the manifest,
    * where loss would be real, has the hard-link claim instead. */
  private val sidecarLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def mergeAndWrite(path: String, entries: Seq[(String, String)],
      keepExisting: Boolean, dropNames: Set[String] = Set.empty): Unit =
    sidecarLocks.computeIfAbsent(
      new java.io.File(path).getAbsolutePath, _ => new Object).synchronized {
      mergeAndWrite0(path, entries, keepExisting, dropNames)
    }

  private def mergeAndWrite0(path: String, entries: Seq[(String, String)],
      keepExisting: Boolean, dropNames: Set[String] = Set.empty): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val files = root.putObject("files")
    if (keepExisting) {
      val f = new java.io.File(path, SidecarName)
      if (f.isFile) {
        try {
          Option(mapper.readTree(f).get("files")).foreach { old =>
            old.fields().asScala
              .filterNot(e => dropNames.contains(e.getKey))
              // set[JsonNode]: ObjectNode.set is <T extends JsonNode> T —
              // left unpinned, scalac infers T = Nothing and emits a
              // checkcast on the (discarded!) return value that throws
              // ClassCastException AFTER the first entry lands, silently
              // dropping every later entry into the defensive catch (a
              // multi-file table lost all but its first stats entry on
              // every subsequent commit; found via the q183 MV probe's
              // NULL #history rows)
              .foreach(e => { files.set[JsonNode](e.getKey, e.getValue); () })
          }
        } catch { case _: Exception => () }
      }
    }
    entries.foreach { case (name, json) =>
      if (json.nonEmpty) { files.set[JsonNode](name, mapper.readTree(json)); () }
    }
    val tmp = new java.io.File(path, s".$SidecarName.tmp")
    // explicit UTF-8 (advice r12): a platform-default charset would
    // corrupt non-ASCII string min/max bounds on a non-UTF-8 locale and
    // the pruner could then wrongly SKIP a file containing matches
    java.nio.file.Files.writeString(tmp.toPath, mapper.writeValueAsString(root))
    val dst = new java.io.File(path, SidecarName)
    if (dst.exists()) dst.delete()
    if (!tmp.renameTo(dst))
      throw new java.io.IOException(s"stats sidecar rename failed in $path")
  }

  /** Conservative ordering: compares only within a broad type family
    * (numbers with numbers via BigDecimal — exact for long/double mixes
    * — strings with strings); anything else is incomparable → None →
    * the caller keeps the file. */
  def cmp(x: Any, v: Any): Option[Int] = (x, v) match {
    case (a: String, b: String) => Some(a.compareTo(b))
    case (a: Number, b: Number) =>
      val (ad, bd) = (a.doubleValue(), b.doubleValue())
      if (ad.isNaN || bd.isNaN || ad.isInfinite || bd.isInfinite)
        Some(java.lang.Double.compare(ad, bd))
      else Some(new java.math.BigDecimal(a.toString).compareTo(new java.math.BigDecimal(b.toString)))
    case _ => None
  }

  /** Compile the filters into a per-file predicate ONCE (a runtime In
    * can carry the build side's full distinct key set — its min/max are
    * hoisted here so the per-file check is O(1), at the cost of the
    * overlap test being a SUPERSET: a file whose range straddles the
    * keys without containing one is kept, never the reverse). Every gap
    * — missing range, incomparable type — keeps the file. */
  def pruner(filters: Seq[Filter]): FileStats => Boolean = {
    val checks: Seq[FileStats => Boolean] = filters.map {
      case EqualTo(a, v) => (s: FileStats) => s.cols.get(a).forall(r =>
        cmp(r.min, v).forall(_ <= 0) && cmp(r.max, v).forall(_ >= 0))
      case GreaterThan(a, v) => (s: FileStats) =>
        s.cols.get(a).forall(r => cmp(r.max, v).forall(_ > 0))
      case GreaterThanOrEqual(a, v) => (s: FileStats) =>
        s.cols.get(a).forall(r => cmp(r.max, v).forall(_ >= 0))
      case LessThan(a, v) => (s: FileStats) =>
        s.cols.get(a).forall(r => cmp(r.min, v).forall(_ < 0))
      case LessThanOrEqual(a, v) => (s: FileStats) =>
        s.cols.get(a).forall(r => cmp(r.min, v).forall(_ <= 0))
      case In(a, vs) =>
        // hoisted key-set bounds; [vmin,vmax] ∩ [min,max] ≠ ∅ keeps.
        // Bounds only exist within a homogeneous type family — cmp is a
        // PARTIAL order and min/max over a mixed set would be garbage
        // (and could falsely drop); mixed or exotic key sets keep all.
        val nonNull = vs.filter(_ != null)
        if (nonNull.isEmpty) {
          // In() over only-null (or zero) keys matches no row: a file
          // with a recorded range for the column is provably skippable;
          // the gaps-keep rule still applies where stats are missing
          (s: FileStats) => s.cols.get(a).isEmpty
        } else if (nonNull.forall(_.isInstanceOf[Number]) ||
            nonNull.forall(_.isInstanceOf[String])) {
          var vmin = nonNull.head
          var vmax = nonNull.head
          nonNull.foreach { v =>
            if (cmp(v, vmin).exists(_ < 0)) vmin = v
            if (cmp(v, vmax).exists(_ > 0)) vmax = v
          }
          (s: FileStats) => s.cols.get(a).forall { r =>
            val overlaps =
              cmp(r.min, vmax).forall(_ <= 0) && cmp(r.max, vmin).forall(_ >= 0)
            // a POINT range (single-valued file, or a partition
            // directory's col=value component — r13) upgrades the
            // superset overlap test to exact membership: [en,en] vs
            // IN (de, fr) overlaps the hoisted [de,fr] but contains
            // neither key, and is provably skippable
            if (overlaps && cmp(r.min, r.max).contains(0))
              nonNull.exists(v => cmp(r.min, v).contains(0))
            else overlaps
          }
        } else (_: FileStats) => true
      case _ => (_: FileStats) => true
    }
    s => checks.forall(_(s))
  }

  /** Can any row of a file with these stats satisfy every filter? */
  def canMatch(stats: FileStats, filters: Seq[Filter]): Boolean =
    pruner(filters)(stats)
}

private[sources] object JsonDocTable {
  /** The files a metadata-only DELETE may retire for `filters`, or None
    * when the decision is not provable file-granular (see
    * [[JsonDocTable.canDeleteWhere]]). Shared by canDeleteWhere and
    * deleteWhere so the two can never disagree; each call re-reads the
    * live set, and the commit's own removed-⊆-live check plus CAS
    * rebase handle anything that moved in between (standard OCC). */
  def metadataDeleteSet(path: String,
      filters: Array[Filter]): Option[Set[String]] = {
    val live: Set[String] = JsonDocVersions.latest(path).map(_._2).getOrElse(
      JsonDocSource.listDataFiles(path)
        .map(f => JsonDocSource.relName(path, f)).toSet)
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) return Some(live) // DELETE FROM t / WHERE true
    val identByName: Map[String, GraftCatalog.PartField] =
      GraftCatalog.partitionSpecOf(path)
        .filter(_.transform == "identity").map(s => s.field.name -> s).toMap
    val shapesOk = real.forall {
      case EqualTo(a, v) => identByName.contains(a) && v != null
      // PARTITION (p = v) clauses arrive as null-safe equality; a
      // non-null constant over never-null partition values is plain
      // equality (a NULL constant can match no file — handled below)
      case org.apache.spark.sql.sources.EqualNullSafe(a, v) =>
        identByName.contains(a)
      case In(a, vs) => identByName.contains(a) && vs.nonEmpty && vs.forall(_ != null)
      // Spark's filter translation adds IsNotNull beside the point
      // predicate; identity partition values are non-null by writer
      // contract, so it holds for every decodable file
      case IsNotNull(a) => identByName.contains(a)
      case _ => false
    }
    if (!shapesOk) return None
    val decided = live.toSeq.map { rel =>
      // the file's identity partition values, decoded from its directory
      val values: Map[String, Any] = rel.split('/').dropRight(1).flatMap { c =>
        val eq = c.indexOf('=')
        if (eq <= 0) None
        else identByName.values.find(_.dirName == c.substring(0, eq)).flatMap { spec =>
          JsonDocSource.decPartValue(c.substring(eq + 1), spec.field.dataType)
            .map(spec.field.name -> _)
        }
      }.toMap
      val verdicts: Seq[Option[Boolean]] = real.toSeq.map {
        case EqualTo(a, v) =>
          values.get(a).map(x => JsonDocStats.cmp(x, v).contains(0))
        case org.apache.spark.sql.sources.EqualNullSafe(a, v) =>
          // partition values are never null, so <=> NULL matches nothing
          values.get(a).map(x => v != null && JsonDocStats.cmp(x, v).contains(0))
        case In(a, vs) => values.get(a).map(x =>
          vs.exists(v => v != null && JsonDocStats.cmp(x, v).contains(0)))
        case IsNotNull(a) => values.get(a).map(_ => true)
        case _ => None
      }
      if (verdicts.exists(_.isEmpty)) return None // undecidable file: refuse all
      rel -> verdicts.forall(_.contains(true))
    }
    Some(decided.collect { case (rel, true) => rel }.toSet)
  }
}

/** `replaceScope` is the FILE-GRANULAR copy-on-write contract: when
  * present (row-level operations only), commit RETIRES exactly the
  * files the rewrite scan PLANNED — the groups whose rows were read and
  * rewritten — and leaves every pruned file live. `None` from the
  * scope (scan never planned — e.g. AQE emptied the rewrite side)
  * retires nothing: no rows were read, so nothing may be replaced.
  *
  * Retirement is LOGICAL (snapshot versioning, r12): the commit's
  * atomic point is the `_manifest_v<N+1>.json` rename naming the new
  * live set; retired and truncated generations stay on disk, readable
  * via `VERSION AS OF` and reclaimed only by [[GraftCatalog.vacuum]].
  * Data-file renames happen BEFORE the manifest commit, so a manifest
  * never references a missing file and a crash between the two leaves
  * version N fully intact — the new files are orphans the next
  * successful commit simply doesn't reference (vacuum sweeps them). */
private[sources] class JsonDocBatchWrite(path: String, schema: StructType,
    queryId: String, truncateFirst: Boolean,
    replaceScope: Option[() => Option[Set[String]]] = None,
    dvBasisScope: Option[() => Option[Map[String, String]]] = None,
    staged: Boolean = false,
    checks: Seq[GraftConstraints.Check] = Seq.empty,
    branch: Option[String] = None,
    clusterRewrite: Boolean = false,
    overwriteFilters: Option[Array[Filter]] = None,
    dynamicOverwrite: Boolean = false) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonDocWriterFactory(path, schema, queryId,
      GraftCatalog.partitionSpecOf(path), checks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    // live set of the version this commit supersedes (bootstrapped from
    // the visible files for a legacy manifest-less directory)
    val live0: Set[String] = JsonDocVersions.latest(path).map(_._2).getOrElse(
      JsonDocSource.listDataFiles(path).map(f => JsonDocSource.relName(path, f)).toSet)
    val msgs = messages.filter(_ != null).flatMap(JsonDocCommitMessage.entriesOf)
    def dirPrefixOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/') + 1)
    val retired: Set[String] =
      if (truncateFirst) live0
      // overwrite BY FILTER (r16): retire what the filters prove
      // file-granular, from the live set as of THIS commit (the
      // planning-time check validated the shapes; an undecidable file
      // appearing since means a concurrent layout change — abort)
      else if (overwriteFilters.isDefined)
        JsonDocTable.metadataDeleteSet(path, overwriteFilters.get).getOrElse(
          throw new java.util.ConcurrentModificationException(
            s"graft-jsondoc: INSERT OVERWRITE by filter on $path became " +
              "unprovable between planning and commit (concurrent layout " +
              "change?) — re-run"))
      // DYNAMIC overwrite (r16): retire every live file in a partition
      // directory this write touched; an empty write touches nothing
      else if (dynamicOverwrite) {
        val touched = msgs.map(m => dirPrefixOf(m.finalName)).toSet
        live0.filter(rel => touched.contains(dirPrefixOf(rel)))
      }
      else replaceScope match {
        case Some(get) => get().map(_.intersect(live0)).getOrElse(Set.empty)
        case None => Set.empty
      }
    msgs.foreach { m =>
      val src = new java.io.File(dir, m.tmpName)
      val dst = new java.io.File(dir, m.finalName)
      Option(dst.getParentFile).foreach(_.mkdirs())
      if (!src.renameTo(dst))
        throw new java.io.IOException(s"commit rename failed: ${m.tmpName} -> ${m.finalName}")
    }
    // consume any pending transaction id (GraftTxn) INTO the manifest:
    // the claim below is then simultaneously the data commit and the
    // applied-epoch ledger entry — an idempotent applier that crashes
    // anywhere re-checks lastTxn and either sees nothing (MERGE never
    // committed → re-apply) or sees the epoch (committed → skip); there
    // is no state in which the fold landed but the ledger didn't.
    val txn = GraftTxn.take(path)
    // operation provenance for #history (r14): overwrite (truncate),
    // rewrite (a COW row-level op retires files), else plain append.
    // A `cluster-by` overwrite records `cluster` (r15): the caller
    // DECLARES a content-identical layout rewrite — GraftCatalog's
    // clustering maintenance — which the change feed then skips like
    // OPTIMIZE instead of re-emitting the whole table to consumers.
    val op = if (truncateFirst && clusterRewrite) "cluster"
      else if (truncateFirst) "overwrite"
      else if (overwriteFilters.isDefined || dynamicOverwrite) "overwrite"
      else if (replaceScope.isDefined) "rewrite"
      else "append"
    // a STAGED commit needs a PUBLISHED basis to be invisible against
    // (r14, WAP): with no manifest at all the legacy every-visible-file
    // rule would expose the staged files immediately — mint the
    // pre-existing listing (possibly empty) as published v1 first
    if (staged && JsonDocVersions.latest(path).isEmpty)
      JsonDocVersions.commit(path, live0 -- msgs.map(_.finalName).toSet,
        op = "bootstrap")
    // a BRANCH write chains on the branch's staged head (r14): must
    // exist (create_branch first — a typo'd name must not silently
    // stage off published state); head 0 = first commit of the chain
    val branchHead: Option[Int] = branch.map { n =>
      JsonDocRefs.branches(path).getOrElse(n, throw new IllegalArgumentException(
        s"graft-jsondoc: no branch '$n' on $path — CALL create_branch first"))
    }
    JsonDocVersions.latest(path) match {
      case Some(_) =>
        // DELTA commit (r13): rebases over a concurrent append instead
        // of dropping its files, and refuses (loudly) to retire a file a
        // concurrent rewrite already retired — the copy-on-write
        // conflict. The dv basis (r14) extends the same refusal to
        // delete vectors repointed since the rewrite scan folded them.
        val committed = JsonDocVersions.commitDelta(path, retired,
          msgs.map(_.finalName).toSet, txn,
          dvBasis = dvBasisScope.flatMap(_()), op = op, staged = staged,
          stagedBase = branchHead)
        // repoint the branch head AFTER the chain-extending commit; a
        // crash in between leaves an orphan stage (vacuum sweeps it)
        // and the write simply appears failed — never a wrong head
        branch.foreach(n => JsonDocRefs.setBranchHead(path, n, committed))
      case None =>
        // FIRST manifest of a legacy directory (advice r13): commitDelta
        // would start from an EMPTY base and mint a manifest excluding
        // the pre-existing visible files — rows silently vanish and
        // vacuum then deletes them. Bootstrap ABSOLUTELY from the
        // visible listing (live0), mirroring the streaming commit's
        // None branch; the absolute commit's collision throw is the
        // right behavior for a racing first-manifest writer.
        JsonDocVersions.commit(path, (live0 -- retired) ++ msgs.map(_.finalName).toSet,
          txn, op = op)
    }
    // sidecar AFTER the manifest: entries accumulate across versions
    // (retired files keep theirs so time-travel reads still prune); a
    // crash in between leaves valid data files with missing stats
    // entries — readers just don't prune them
    JsonDocStats.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.statsJson),
      keepExisting = true)
    JsonDocBlooms.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.bloomJson))
    if (op == "append" && !staged && branch.isEmpty) maybeAutocompact()
  }

  /** AUTO-COMPACTION (r15, opt-in — Delta's autoCompact idiom): after a
    * plain append commits, any partition directory whose LIVE file
    * count reaches `write.autocompact.files` is compacted inline with
    * the existing (partition-scoped) OPTIMIZE toward
    * `write.autocompact.target-bytes` (default 32 MiB) — small-files
    * growth is bounded at the source instead of by a scheduled job, and
    * the compaction commit is the usual op=optimize logical identity
    * (feed skips it, rebase machinery already covers it, purge rules
    * apply). Only appends trigger: staged/branch commits are invisible,
    * and maintenance never piggybacks row-level or overwrite commands.
    * A failure here must NOT fail the job — the append already
    * committed, and surfacing an error now would read as a failed write
    * and invite a duplicating retry — so it warns and moves on (the
    * next append retries the compaction). */
  private def maybeAutocompact(): Unit =
    try {
      val props = GraftCatalog.tablePropsOf(path)
      props.get("write.autocompact.files").map(_.trim.toInt).filter(_ > 1).foreach { n =>
        val target = props.get("write.autocompact.target-bytes").map(_.trim.toLong)
          .getOrElse(32L * 1024 * 1024)
        val live = JsonDocVersions.latest(path).map(_._2).getOrElse(Set.empty)
        live.groupBy(rel => rel.substring(0, rel.lastIndexOf('/') + 1))
          .toSeq.sortBy(_._1).foreach { case (dirPrefix, files) =>
            if (files.size >= n) {
              // Back off when this exact live set was already attempted and
              // OPTIMIZE declined (all files >= target/2: singleton bins, no
              // DVs/eq) — otherwise every later append re-runs the full
              // planning pass (listing + stats/DV/eq sidecar loads) as a
              // permanent no-op. Any change to the live set (new file,
              // rewrite) clears the memo by changing the signature.
              val sig = (path, dirPrefix, files.toSeq.sorted.hashCode)
              if (!JsonDocAutocompact.declined.containsKey(sig)) {
                JsonDocAutocompact.attempts.merge((path, dirPrefix), 1, _ + _)
                if (GraftCatalog.optimize(path, target, dirPrefix).isEmpty)
                  JsonDocAutocompact.remember(sig)
              }
            }
          }
      }
    } catch {
      case e: Exception =>
        Console.err.println(
          s"graft-jsondoc: auto-compaction of $path failed (the append itself " +
            s"committed; the next append will retry): ${e.getMessage}")
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).flatMap(JsonDocCommitMessage.entriesOf).foreach { m =>
      val f = new java.io.File(new java.io.File(path), m.tmpName)
      if (f.exists()) f.delete()
    }
}

private[sources] class JsonDocWriterFactory(path: String, schema: StructType,
    queryId: String, partCols: Seq[GraftCatalog.PartField] = Seq.empty,
    checks: Seq[GraftConstraints.Check] = Seq.empty)
    extends DataWriterFactory {
  // resolved at factory construction (driver-side for V2 writes; a MOR
  // delta task constructs its insert factory executor-side, where the
  // table-props sidecar is still one shared-storage read)
  private val bloomCols: Seq[String] = JsonDocBlooms.declaredCols(path, schema)
  private val shredSpecs: Seq[JsonDocShred.Spec] = JsonDocShred.declared(path)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // taskId in the TEMP name keeps speculative attempts from colliding;
    // the FINAL name is per-partition, so whichever attempt the commit
    // coordinator lets commit owns it
    GraftConstraints.wrap(
      if (partCols.isEmpty)
        new JsonDocDataWriter(path, schema,
          s".part-$queryId-p$partitionId-t$taskId.jsonl.tmp",
          f"part-$queryId-p$partitionId%05d.jsonl", bloomCols, shredSpecs)
      else
        new JsonDocPartitionedDataWriter(path, schema, partCols, queryId,
          partitionId, taskId, bloomCols = bloomCols, shredSpecs = shredSpecs),
      checks)
}

/** Routes each row to its Hive-style `col=value/` directory (r13),
  * keeping one open [[JsonDocDataWriter]] per partition value this task
  * sees. Rows keep their partition columns IN the JSON lines — the
  * layout is a pruning structure, not an encoding: every reader,
  * row-level rewrite, and schema-evolution path works on a partitioned
  * file exactly as on a flat one. NULL partition values are refused
  * loudly (a `col=null` directory cannot round-trip typed equality).
  * Commit reports one message per touched partition directory. */
private[sources] class JsonDocPartitionedDataWriter(path: String,
    schema: StructType, partCols: Seq[GraftCatalog.PartField], queryId: String,
    partitionId: Int, taskId: Long,
    epochId: Option[Long] = None,
    bloomCols: Seq[String] = Seq.empty,
    shredSpecs: Seq[JsonDocShred.Spec] = Seq.empty) extends DataWriter[InternalRow] {

  private val partIdx: Seq[(GraftCatalog.PartField, Int)] = partCols.map { p =>
    val i = schema.fieldNames.indexOf(p.field.name)
    require(i >= 0, s"graft-jsondoc: partition column ${p.field.name} missing from " +
      s"write schema [${schema.fieldNames.mkString(", ")}]")
    (p, i)
  }
  private val children = scala.collection.mutable.LinkedHashMap.empty[String, JsonDocDataWriter]

  private def dirPrefix(row: InternalRow): String =
    partIdx.map { case (p, i) =>
      require(!row.isNullAt(i),
        s"graft-jsondoc: NULL value for partition column ${p.field.name} — " +
          "partition values must be non-null")
      val raw: Any = schema.fields(i).dataType match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i)
        case BooleanType => row.getBoolean(i)
        case _ => row.getUTF8String(i).toString
      }
      // the transform maps the source value to the directory value
      // (identity passes through) — shared with the pruner and the
      // FunctionCatalog so the three can never disagree (r14)
      s"${p.dirName}=${JsonDocSource.encPartValue(GraftTransforms.dirValue(p, raw))}"
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val prefix = dirPrefix(row)
    if (!children.contains(prefix) && children.size == 200)
      org.slf4j.LoggerFactory.getLogger(classOf[JsonDocPartitionedDataWriter]).warn(
        s"graft-jsondoc: task $partitionId is writing its 200th partition " +
          s"directory under $path — the clustered write distribution should " +
          "bound this to ~values/tasks; extreme partition cardinality on this " +
          "column suggests partitioning on something coarser")
    children.getOrElseUpdate(prefix, epochId match {
      // streaming epoch: run-independent (epoch, partition) final name
      // per directory — the replay key — vs the batch write's
      // queryId-unique name
      case Some(e) => new JsonDocDataWriter(path, schema,
        s"$prefix/.part-$queryId-e$e-p$partitionId-t$taskId.jsonl.tmp",
        f"$prefix/part-e$e%05d-p$partitionId%05d.jsonl", bloomCols, shredSpecs)
      case None => new JsonDocDataWriter(path, schema,
        s"$prefix/.part-$queryId-p$partitionId-t$taskId.jsonl.tmp",
        f"$prefix/part-$queryId-p$partitionId%05d.jsonl", bloomCols, shredSpecs)
    }).write(row)
  }

  override def commit(): WriterCommitMessage =
    JsonDocMultiCommitMessage(children.values.map(
      _.commit().asInstanceOf[JsonDocCommitMessage]).toSeq)

  override def abort(): Unit = children.values.foreach(_.abort())
  override def close(): Unit = ()
}

/** STREAMING write (r12): the same two-phase task-temp/driver-rename
  * protocol per EPOCH. Exactly-once comes from IDEMPOTENT epoch
  * commits: the final name embeds (queryId, epochId, partitionId), so
  * when a restarted query replays an epoch whose rename already
  * happened, the re-commit replaces the file with identical content
  * (deterministic replay) instead of appending a duplicate — and a
  * replayed commit whose temp is gone but whose final exists is
  * recognized as already-committed and skipped. Append output mode
  * only (streaming truncate-per-epoch = complete mode is refused in
  * `toStreaming`). */
private[sources] class JsonDocStreamingWrite(path: String, schema: StructType,
    queryId: String, partCols: Seq[GraftCatalog.PartField] = Seq.empty,
    checks: Seq[GraftConstraints.Check] = Seq.empty,
    upsertKeys: Seq[String] = Seq.empty, cdcCol: Option[String] = None)
    extends StreamingWrite {

  /** The schema actually STORED: the CDC op column is protocol, not data. */
  private val storedSchema: StructType =
    cdcCol.map(c => StructType(schema.fields.filterNot(_.name == c))).getOrElse(schema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    if (upsertKeys.isEmpty)
      new JsonDocStreamingWriterFactory(path, schema, queryId, partCols, checks)
    else
      new JsonDocUpsertWriterFactory(path, schema, storedSchema, queryId, partCols,
        checks, upsertKeys, cdcCol)

  /** Applied-transaction app id of the upsert ledger: constant per
    * table — sound because the sole-writer marker already enforces ONE
    * streaming query per directory. */
  private val UpsertApp = "stream-upsert"

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (upsertKeys.isEmpty) commitAppend(epochId, messages)
    else commitUpsert(epochId, messages)

  /** UPSERT epoch commit (r15): rename the epoch's data files (replay-
    * idempotent, same as append), then ONE manifest delta carrying the
    * files, the epoch's equality-delete, and the epoch ledger entry —
    * one atomic point. A replayed epoch whose ledger entry is already
    * published redoes only the byte-identical renames and skips the eq
    * write entirely (writing a second eq file at a LATER version would
    * delete the epoch's own rows — the sequencing hazard the ledger
    * check exists for). Within one epoch, rows sequence TOGETHER: the
    * epoch's eq applies only to files added at earlier versions, so the
    * producer delivers at most one image per key per epoch (standard
    * CDC per-batch compaction; duplicates within an epoch all land). */
  private def commitUpsert(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    JsonDocStreamingWrite.ensureSoleWriter(dir, queryId)
    val ups = messages.filter(_ != null).map(_.asInstanceOf[JsonDocUpsertCommitMessage])
    val msgs = ups.flatMap(m => m.inner.toList.flatMap(JsonDocCommitMessage.entriesOf))
    msgs.foreach { m =>
      val src = new java.io.File(dir, m.tmpName)
      val dst = new java.io.File(dir, m.finalName)
      Option(dst.getParentFile).foreach(_.mkdirs())
      if (src.exists()) {
        if (dst.exists() && !dst.delete())
          throw new java.io.IOException(s"epoch $epochId replay: cannot replace ${m.finalName}")
        if (!src.renameTo(dst))
          throw new java.io.IOException(
            s"epoch $epochId commit rename failed: ${m.tmpName} -> ${m.finalName}")
      } else if (!dst.exists())
        throw new java.io.IOException(
          s"epoch $epochId commit: neither temp ${m.tmpName} nor final ${m.finalName} exists")
    }
    if (JsonDocVersions.lastTxn(path, UpsertApp).exists(_ >= epochId)) return
    val keys = ups.iterator.flatMap(_.keys).toVector.distinct
    if (msgs.isEmpty && keys.isEmpty) return // empty epoch: no version noise
    // a manifest-less directory with PRE-EXISTING files bootstraps them
    // first: addedAt sequencing needs this epoch's files (and eq) to
    // carry a LATER version than anything already visible. An empty
    // directory skips straight to v1 — the epoch's own eq can never
    // touch its own files either way (addedAt < eqV is strict).
    if (JsonDocVersions.latest(path).isEmpty) {
      val finals = msgs.map(_.finalName).toSet
      val visible = JsonDocSource.listDataFiles(path)
        .map(f => JsonDocSource.relName(path, f)).toSet -- finals
      if (visible.nonEmpty)
        JsonDocVersions.commit(path, visible, op = "bootstrap")
    }
    val keyTypes = upsertKeys.map(k => JsonDocEqDeletes.typeTag(schema(k).dataType))
    val eqName =
      if (keys.isEmpty) Seq.empty
      else Seq(JsonDocEqDeletes.write(path, upsertKeys, keyTypes, keys))
    JsonDocVersions.commitDelta(path, Set.empty, msgs.map(_.finalName).toSet,
      txn = Some((UpsertApp, epochId)), eqAdd = eqName, op = "stream-upsert")
    JsonDocStats.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.statsJson),
      keepExisting = true)
    JsonDocBlooms.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.bloomJson))
  }

  private def commitAppend(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    // Single-streaming-query-per-directory, ENFORCED (r12 advice): final
    // names are keyed (epochId, partitionId) — run-independent so a
    // checkpointed RESTART replaces its own replayed epoch — which means
    // a SECOND query (fresh checkpoint, epochs restarting at 0) would
    // silently overwrite the first run's committed files. The first
    // commit persists the query id (stable across restarts of the same
    // checkpoint; Spark hands the checkpoint-resident id to the write
    // builder) in a marker; a commit from a different query id is
    // refused loudly instead of replacing data.
    JsonDocStreamingWrite.ensureSoleWriter(dir, queryId)
    val msgs = messages.filter(_ != null).flatMap(JsonDocCommitMessage.entriesOf)
    msgs.foreach { m =>
      val src = new java.io.File(dir, m.tmpName)
      val dst = new java.io.File(dir, m.finalName)
      Option(dst.getParentFile).foreach(_.mkdirs())
      if (src.exists()) {
        // replace-on-rename: a replayed epoch overwrites its own file
        if (dst.exists() && !dst.delete())
          throw new java.io.IOException(s"epoch $epochId replay: cannot replace ${m.finalName}")
        if (!src.renameTo(dst))
          throw new java.io.IOException(
            s"epoch $epochId commit rename failed: ${m.tmpName} -> ${m.finalName}")
      } else if (!dst.exists()) {
        throw new java.io.IOException(
          s"epoch $epochId commit: neither temp ${m.tmpName} nor final ${m.finalName} exists")
      } // else: already committed by a prior attempt of this epoch — idempotent skip
    }
    // manifest append (snapshot versioning): a replayed epoch's names
    // are already live, so the unchanged-set guard keeps replays from
    // minting empty versions — the manifest history stays one version
    // per real epoch
    JsonDocVersions.latest(path) match {
      case Some(_) =>
        // delta commit: a pure append, rebased over any concurrent
        // committer; the no-op guard inside keeps replays from minting
        // empty versions
        JsonDocVersions.commitDelta(path, Set.empty, msgs.map(_.finalName).toSet,
          op = "stream-append")
      case None =>
        val visible = JsonDocSource.listDataFiles(path)
          .map(f => JsonDocSource.relName(path, f)).toSet
        JsonDocVersions.commit(path, visible, op = "bootstrap")
    }
    // entries are keyed by final name, so a replayed epoch overwrites its
    // own stats — the sidecar stays idempotent alongside the data
    JsonDocStats.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.statsJson),
      keepExisting = true)
    JsonDocBlooms.mergeAndWrite(path, msgs.toSeq.map(m => m.finalName -> m.bloomJson))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).flatMap(JsonDocCommitMessage.entriesOf).foreach { m =>
      val f = new java.io.File(new java.io.File(path), m.tmpName)
      if (f.exists()) f.delete()
    }
}

private[sources] object JsonDocStreamingWrite {
  val MarkerName = "_sink_query.json"

  /** Record the first committing query's id (atomic tmp+rename); refuse
    * commits from any other id. Underscore-prefixed, so data listings
    * and the micro-batch source never see it. */
  def ensureSoleWriter(dir: java.io.File, queryId: String): Unit = {
    val marker = new java.io.File(dir, MarkerName)
    if (!marker.exists()) {
      dir.mkdirs()
      val tmp = new java.io.File(dir, s".$MarkerName.$queryId.tmp")
      java.nio.file.Files.writeString(tmp.toPath,
        s"""{"queryId":"$queryId"}""", java.nio.charset.StandardCharsets.UTF_8)
      // losing the rename race to a concurrent first commit is fine —
      // the recorded id is re-checked below either way
      if (!tmp.renameTo(marker)) tmp.delete()
    }
    val recorded = try {
      new ObjectMapper().readTree(
        java.nio.file.Files.readString(marker.toPath,
          java.nio.charset.StandardCharsets.UTF_8)).get("queryId").asText()
    } catch { case _: Exception => queryId } // unreadable marker: don't brick the sink
    if (recorded != queryId)
      throw new IllegalStateException(
        s"graft-jsondoc streaming sink on $dir: this directory belongs to " +
          s"streaming query $recorded (one streaming query per directory — " +
          s"final names are keyed by epoch, so a different query's epochs " +
          s"would silently replace committed files). Refusing commits from " +
          s"query $queryId; write to a fresh directory, or delete " +
          s"$MarkerName if the original query is permanently retired.")
  }
}

private[sources] class JsonDocStreamingWriterFactory(path: String, schema: StructType,
    queryId: String, partCols: Seq[GraftCatalog.PartField] = Seq.empty,
    checks: Seq[GraftConstraints.Check] = Seq.empty)
    extends StreamingDataWriterFactory {
  private val bloomCols: Seq[String] = JsonDocBlooms.declaredCols(path, schema)
  private val shredSpecs: Seq[JsonDocShred.Spec] = JsonDocShred.declared(path)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = GraftConstraints.wrap(
    // (epochId, partitionId) is the exactly-once key, so the FINAL name
    // deliberately omits queryId: the streaming queryId is the RUN id,
    // which changes when a checkpointed query restarts — a replayed
    // epoch must land on the SAME final name to replace rather than
    // duplicate. (One streaming query per directory, the same
    // single-writer contract as Spark's own file sink.) The temp keeps
    // queryId+taskId so attempts never collide. On a PARTITIONED table
    // (r13) the same key lives inside each col=value directory: replay
    // routing is deterministic (Spark's replayed epoch re-delivers the
    // same rows), so a replay lands on the same per-directory names and
    // replaces them — and the version-mode streaming SOURCE delivers
    // commit order, so names below other directories' watermarks are
    // fine downstream.
    if (partCols.isEmpty)
      new JsonDocDataWriter(path, schema,
        s".part-$queryId-e$epochId-p$partitionId-t$taskId.jsonl.tmp",
        f"part-e$epochId%05d-p$partitionId%05d.jsonl", bloomCols, shredSpecs)
    else
      new JsonDocPartitionedDataWriter(path, schema, partCols, queryId,
        partitionId, taskId, epochId = Some(epochId), bloomCols = bloomCols,
        shredSpecs = shredSpecs),
    checks)
}

/** STREAMING-UPSERT writer factory (r15): wraps the ordinary epoch
  * writers with key capture, CDC-delete routing, and the op-column
  * strip. The inner writer sees only `storedSchema` rows, so data files
  * are byte-indistinguishable from plain appends. */
private[sources] class JsonDocUpsertWriterFactory(path: String, fullSchema: StructType,
    storedSchema: StructType, queryId: String, partCols: Seq[GraftCatalog.PartField],
    checks: Seq[GraftConstraints.Check], upsertKeys: Seq[String],
    cdcCol: Option[String]) extends StreamingDataWriterFactory {
  private val innerFactory =
    new JsonDocStreamingWriterFactory(path, storedSchema, queryId, partCols, Seq.empty)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new JsonDocUpsertDataWriter(
      innerFactory.createWriter(partitionId, taskId, epochId),
      fullSchema,
      upsertKeys.map(k => fullSchema.fieldIndex(k)),
      upsertKeys.map(k => fullSchema(k).dataType),
      cdcCol.map(fullSchema.fieldIndex),
      storedSchema.fieldNames.map(fullSchema.fieldIndex).toSeq,
      storedSchema, checks)
}

private[sources] class JsonDocUpsertDataWriter(
    inner: DataWriter[InternalRow], fullSchema: StructType,
    keyOrdinals: Seq[Int], keyTypes: Seq[DataType], cdcOrdinal: Option[Int],
    keepOrdinals: Seq[Int], storedSchema: StructType,
    checks: Seq[GraftConstraints.Check]) extends DataWriter[InternalRow] {

  private val keys = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
  private var wroteAny = false

  /** Canonical key box — must match [[JsonDocEqDeletes]]'s read side
    * exactly (Long/Double/Boolean/String). Null keys are refused: an
    * upsert without an identity is a producer bug, and a silent null
    * tuple could never match at read time. */
  private def keyOf(row: InternalRow): Seq[Any] =
    keyOrdinals.zip(keyTypes).map { case (i, dt) =>
      require(!row.isNullAt(i),
        s"graft-jsondoc: upsert key '${fullSchema(i).name}' is NULL — keyed " +
          "upserts require non-null identifier columns")
      (dt match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i).toLong
        case DoubleType => row.getDouble(i)
        case BooleanType => row.getBoolean(i)
        case _ => row.getUTF8String(i).toString
      }): Any
    }

  override def write(row: InternalRow): Unit = {
    keys += keyOf(row)
    val isDelete = cdcOrdinal.exists(i =>
      !row.isNullAt(i) && row.getUTF8String(i).toString == "D")
    if (!isDelete) {
      // constraints check the FULL incoming row (ordinals were bound
      // against the stream schema); deletes carry nothing to check
      GraftConstraints.enforce(checks, row)
      val values = keepOrdinals.map { i =>
        if (row.isNullAt(i)) null
        else fullSchema(i).dataType match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i)
          case DoubleType => row.getDouble(i)
          case BooleanType => row.getBoolean(i)
          case _ => row.getUTF8String(i).copy()
        }
      }
      inner.write(InternalRow.fromSeq(values))
      wroteAny = true
    }
  }

  override def commit(): WriterCommitMessage =
    if (wroteAny) JsonDocUpsertCommitMessage(keys.toSeq, Some(inner.commit()))
    else {
      // delete-only task: no data file — abort the inner writer so its
      // (empty) temp never lands, and carry the keys alone
      inner.abort()
      JsonDocUpsertCommitMessage(keys.toSeq, None)
    }

  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

private[sources] class JsonDocDataWriter(path: String, schema: StructType,
    tmpName: String, finalName: String, bloomCols: Seq[String] = Seq.empty,
    shredSpecs: Seq[JsonDocShred.Spec] = Seq.empty)
    extends DataWriter[InternalRow] {

  private val dir = new java.io.File(path)
  dir.mkdirs()
  // a partition-routed temp like `col=v/.part-...tmp` needs its dir
  private val tmpFile = new java.io.File(dir, tmpName)
  Option(tmpFile.getParentFile).foreach(_.mkdirs())
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.io.FileOutputStream(tmpFile), "UTF-8"))
  private val mapper = new ObjectMapper()
  // streaming generator (r18 optimization): the previous per-row
  // ObjectNode + writeValueAsString allocated a tree and a String per
  // row — the hot path of every data write. The generator emits the
  // IDENTICAL bytes (same Jackson number/string rendering, same
  // insertion field order) straight into `out`; writeRaw('\n') keeps
  // the newline-delimited framing.
  private val gen = new com.fasterxml.jackson.core.JsonFactory()
    .createGenerator(out)
  // no root-value separator (r19, advice item): the generator's default
  // separator is a single space before every root value after the first,
  // which made each data line after the first start with " {" — readers
  // tolerated it, but the bytes must match the pre-generator format for
  // strict JSONL consumers and byte-level file comparisons
  gen.setRootValueSeparator(null)

  // per-column min/max over non-null values (Long for integral columns,
  // Double, String; booleans skipped) — streamed into the commit
  // message, folded into the _stats.json sidecar by the driver
  private val mins = new Array[Any](schema.length)
  private val maxs = new Array[Any](schema.length)
  private var rows = 0L

  // per-column value-hash accumulators for the declared bloom columns
  // (r16): 8 bytes/value while the task runs, built into a Bloom at
  // commit; null = column not indexed (the hot-path check is one load)
  private val bloomAcc: Array[scala.collection.mutable.ArrayBuilder.ofLong] = {
    val a = new Array[scala.collection.mutable.ArrayBuilder.ofLong](schema.length)
    bloomCols.foreach { c =>
      val i = schema.fieldNames.indexOf(c)
      if (i >= 0 && JsonDocBlooms.indexable(schema.fields(i).dataType))
        a(i) = new scala.collection.mutable.ArrayBuilder.ofLong
    }
    a
  }

  private def acc(i: Int, v: Any): Unit = {
    if (mins(i) == null) { mins(i) = v; maxs(i) = v }
    else {
      if (below(v, mins(i))) mins(i) = v
      if (below(maxs(i), v)) maxs(i) = v
    }
  }

  /** `JsonDocStats.cmp(a, b)` is below 0, with the pairs a column of one
    * type gives compared directly instead of through two BigDecimal
    * parses: Long with Long, String with String, and two finite Doubles
    * (`<` orders them as the BigDecimal path does, -0.0 equal to 0.0).
    * NaN, the infinities and mixed pairs go through `cmp`. */
  private def below(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Double, y: Double) if java.lang.Double.isFinite(x) && java.lang.Double.isFinite(y) => x < y
    case (x: String, y: String) => x.compareTo(y) < 0
    case _ => JsonDocStats.cmp(a, b).exists(_ < 0)
  }

  // per-column NDV registers + null counts (r17): one hash per non-null
  // value into a 256-byte HLL; planning-only column statistics
  private val ndvReg: Array[Array[Byte]] =
    Array.fill(schema.length)(JsonDocNdv.empty)
  private val nullCnt = new Array[Long](schema.length)
  private def ndvAdd(i: Int, v: Any): Unit =
    JsonDocNdv.add(ndvReg(i), JsonDocNdv.hashValue(v))

  // SHREDDING (r16, [[JsonDocShred]]): (target ordinal, source ordinal,
  // field) triples bound against THIS write schema — a spec whose
  // target or source this write doesn't carry is skipped (catalog
  // inserts always carry the full schema)
  private val shredIdx: Array[(Int, Int, String)] = shredSpecs.flatMap { s =>
    val ti = schema.fieldNames.indexOf(s.target)
    val si = schema.fieldNames.indexOf(s.src)
    if (ti >= 0 && si >= 0 && schema.fields(si).dataType == StringType &&
      JsonDocShred.supportedTarget(schema.fields(ti).dataType))
      Some((ti, si, s.field))
    else None
  }.toArray

  /** The materialized (generated-always) values of this row's shred
    * targets — replaces whatever the incoming row carried. One parse
    * per distinct source column per row. */
  private def shredValues(row: InternalRow): java.util.HashMap[Integer, Any] =
    if (shredIdx.isEmpty) null
    else {
      val parsed = new java.util.HashMap[Integer, JsonNode]()
      val out = new java.util.HashMap[Integer, Any]()
      shredIdx.foreach { case (ti, si, field) =>
        val node =
          if (row.isNullAt(si)) null
          else {
            var n = parsed.get(Integer.valueOf(si))
            if (n == null && !parsed.containsKey(Integer.valueOf(si))) {
              n = try mapper.readTree(row.getUTF8String(si).toString)
                catch { case _: Exception => null }
              parsed.put(Integer.valueOf(si), n)
            }
            n
          }
        out.put(ti, JsonDocShred.extract(node, field, schema.fields(ti).dataType))
      }
      out
    }

  private val fields = schema.fields

  override def write(row: InternalRow): Unit = {
    gen.writeStartObject()
    val shredded = shredValues(row)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (shredded != null && shredded.containsKey(Integer.valueOf(i))) {
        // generated-always: the extraction replaces the incoming value,
        // feeding the same stats/bloom accumulators a real value would
        shredded.get(Integer.valueOf(i)) match {
          case null => gen.writeNullField(f.name); nullCnt(i) += 1
          case l: java.lang.Long =>
            gen.writeNumberField(f.name, l.longValue()); acc(i, l.longValue())
            ndvAdd(i, l.longValue())
            if (bloomAcc(i) != null) bloomAcc(i) += JsonDocBlooms.hashLong(l.longValue())
          case d: java.lang.Double =>
            gen.writeNumberField(f.name, d.doubleValue()); acc(i, d.doubleValue())
            ndvAdd(i, d.doubleValue())
          case s: String =>
            gen.writeStringField(f.name, s); acc(i, s); ndvAdd(i, s)
            if (bloomAcc(i) != null) bloomAcc(i) += JsonDocBlooms.hashConst(s).get
          case _ => gen.writeNullField(f.name); nullCnt(i) += 1
        }
      }
      else if (row.isNullAt(i)) { gen.writeNullField(f.name); nullCnt(i) += 1 }
      else f.dataType match {
        case LongType =>
          val v = row.getLong(i); gen.writeNumberField(f.name, v); acc(i, v); ndvAdd(i, v)
          if (bloomAcc(i) != null) bloomAcc(i) += JsonDocBlooms.hashLong(v)
        case IntegerType =>
          val v = row.getInt(i); gen.writeNumberField(f.name, v); acc(i, v.toLong)
          ndvAdd(i, v.toLong)
          if (bloomAcc(i) != null) bloomAcc(i) += JsonDocBlooms.hashLong(v.toLong)
        case DoubleType =>
          val v = row.getDouble(i); gen.writeNumberField(f.name, v); acc(i, v); ndvAdd(i, v)
        case BooleanType =>
          val v = row.getBoolean(i); gen.writeBooleanField(f.name, v); ndvAdd(i, v)
        case _ =>
          val v = row.getUTF8String(i).toString; gen.writeStringField(f.name, v); acc(i, v)
          ndvAdd(i, v)
          if (bloomAcc(i) != null)
            bloomAcc(i) += JsonDocBlooms.hashConst(v).get
      }
      i += 1
    }
    gen.writeEndObject()
    gen.writeRaw('\n')
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    gen.close()
    out.close()
    val cols = schema.fields.zipWithIndex.collect {
      case (f, i) if mins(i) != null =>
        f.name -> JsonDocStats.ColRange(mins(i), maxs(i))
    }.toMap
    // NDV/null stats for EVERY schema column (an all-null column's
    // empty registers estimate 0) so file entries stay key-uniform and
    // union never drops a sketch over a same-schema file set
    val ndv = schema.fields.zipWithIndex.map { case (f, i) => f.name -> ndvReg(i) }.toMap
    val nulls = schema.fields.zipWithIndex.map { case (f, i) => f.name -> nullCnt(i) }.toMap
    val blooms = schema.fields.zipWithIndex.collect {
      case (f, i) if bloomAcc(i) != null =>
        f.name -> JsonDocBlooms.build(bloomAcc(i).result())
    }
    JsonDocCommitMessage(tmpName, finalName,
      JsonDocStats.toJson(JsonDocStats.FileStats(rows, cols, ndv, nulls)),
      if (blooms.isEmpty) "" else JsonDocBlooms.colsToJson(blooms.toSeq))
  }

  override def abort(): Unit = {
    try gen.close() catch { case _: java.io.IOException => () }
    out.close()
    val f = new java.io.File(dir, tmpName)
    if (f.exists()) f.delete()
  }

  override def close(): Unit = ()
}

/** The aggregate shapes the source computes scan-side (SURVEY §2B
  * scans/sources row, r12 extension): one partial row per response
  * file, merged by Spark's final aggregate — COUNT(*)/COUNT(col) as
  * partial counts (finalized by SUM), MIN/MAX carried as the column's
  * declared type. Order-independent functions only, so partial-per-file
  * merge is exact; AVG/SUM-over-double are left to Spark (fold order
  * would change bits). */
private[sources] sealed trait JsonAggSpec { def name: String }
private[sources] case object JsonCountStar extends JsonAggSpec { def name = "COUNT(*)" }
private[sources] final case class JsonCountCol(col: String, dt: DataType) extends JsonAggSpec {
  def name = s"COUNT($col)"
}
private[sources] final case class JsonMinCol(col: String, dt: DataType) extends JsonAggSpec {
  def name = s"MIN($col)"
}
private[sources] final case class JsonMaxCol(col: String, dt: DataType) extends JsonAggSpec {
  def name = s"MAX($col)"
}

/** `acceptPushdown = false` is the ROW-LEVEL-REWRITE mode: a group-based
  * MERGE/UPDATE/DELETE rewrite reads the table in order to write back
  * the complete post-operation contents, so the scan must return every
  * row — a pushed filter, pushed aggregate, pushed limit, or runtime
  * join filter would silently DELETE whatever it excluded (the write
  * replaces what was read). Column pruning stays on: Spark asks for
  * every column it writes back, so pruning can never lose data. */
private[sources] class JsonDocScanBuilder(fullSchema: StructType, path: String,
    acceptPushdown: Boolean = true,
    plannedSink: Option[Array[String] => Unit] = None,
    dvSink: Option[Map[String, String] => Unit] = None,
    pinned: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggSpecs: Seq[JsonAggSpec] = Nil
  private var aggSchema: StructType = _
  private var limit: Option[Int] = None

  /** PARTIAL limit pushdown (`isPartiallyPushed` stays true): each
    * partition reader stops parsing its file after `n` rows survive the
    * pushed filters — Spark keeps the global LIMIT on top, so
    * `df.limit(10)` reads at most 10 lines per response file instead of
    * every line of every file. Never co-planned with a pushed aggregate
    * (a LIMIT above an Aggregate does not reach the scan). */
  override def pushLimit(n: Int): Boolean = {
    if (!acceptPushdown) return false
    if (n >= 0) limit = Some(n)
    limit.isDefined
  }

  /** Accept the filter shapes an HTTP endpoint could encode as query
    * params; everything else stays in Spark (returned as residual). A
    * filter is only ours when the field exists AND its declared type is
    * one the reader's comparator evaluates — a pushed-but-unevaluable
    * filter would silently drop every row, because Spark trusts the
    * residual and never re-checks. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!acceptPushdown) return filters
    def evaluable(a: String): Boolean =
      fullSchema.fields.exists(f => f.name == a && JsonDocSource.supportedType(f.dataType))
    val (ours, residual) = filters.partition {
      case EqualTo(a, _) => evaluable(a)
      case GreaterThan(a, _) => evaluable(a)
      case GreaterThanOrEqual(a, _) => evaluable(a)
      case LessThan(a, _) => evaluable(a)
      case LessThanOrEqual(a, _) => evaluable(a)
      case IsNotNull(a) => evaluable(a)
      // static IN pushes through the same machinery the runtime
      // (join-derived) In already uses: O(1) per-line membership in the
      // reader, hoisted key-set bounds in the stats pruner, point-range
      // equality in partition pruning (r13)
      case In(a, _) => evaluable(a)
      case _ => false
    }
    pushed = ours
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays false):
    * accept only global (no GROUP BY) combinations of COUNT(*) /
    * COUNT(col) / MIN(col) / MAX(col) over declared supported-type
    * top-level fields. Spark guarantees it only attempts this when every
    * filter was pushed (a residual filter could not run over partial
    * rows), and merges one partial row per InputPartition with a final
    * aggregate — counts are summed, so per-file partials are exact. */
  override def pushAggregation(aggregation: aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (!acceptPushdown) return false
    if (aggregation.groupByExpressions.nonEmpty) return false
    // an existence default (r16) makes absent tokens VALUES the partial
    // aggregator doesn't model — keep the aggregate in Spark, where the
    // row reader serves the filled column (conservative, never wrong)
    if (GraftCatalog.existsDefaultsForTable(path, fullSchema).nonEmpty) return false
    def topField(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          fullSchema.fields.find(f => f.name == nr.fieldNames.head &&
            JsonDocSource.supportedType(f.dataType))
        case _ => None
      }
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(JsonCountStar)
      case c: aggregate.Count if !c.isDistinct =>
        topField(c.column).map(f => JsonCountCol(f.name, f.dataType))
      case m: aggregate.Min => topField(m.column).map(f => JsonMinCol(f.name, f.dataType))
      case m: aggregate.Max => topField(m.column).map(f => JsonMaxCol(f.name, f.dataType))
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    aggSpecs = specs.flatten
    aggSchema = StructType(aggSpecs.zipWithIndex.map {
      case (JsonCountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
      case (JsonCountCol(_, _), i) => StructField(s"agg_$i", LongType, nullable = false)
      case (JsonMinCol(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
      case (JsonMaxCol(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
    })
    true
  }

  override def build(): Scan =
    if (aggSpecs.nonEmpty) new JsonDocAggScan(aggSchema, path, pushed, aggSpecs, pinned)
    else new JsonDocScan(required, path, pushed, limit,
      runtimeFilterable = acceptPushdown, plannedSink = plannedSink,
      dvSink = dvSink, pinned = pinned,
      // from the SIDECAR schema (catalog-authoritative — a bare read's
      // user-declared schema carries no metadata, and the two read APIs
      // must serve identical rows), falling back to the handed-in FULL
      // schema: a filter may touch a defaulted column the projection
      // pruned away
      existsDefaults = GraftCatalog.existsDefaultsForTable(path, fullSchema))
}

private[sources] class JsonDocScan(readSchema0: StructType, path: String,
    filters: Array[Filter], limit: Option[Int] = None,
    runtimeFilterable: Boolean = true,
    plannedSink: Option[Array[String] => Unit] = None,
    dvSink: Option[Map[String, String] => Unit] = None,
    pinned: Option[Int] = None,
    existsDefaults: Map[String, Any] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {
  override def readSchema(): StructType = readSchema0
  override def toBatch: Batch = this

  /** STORAGE-PARTITIONED JOINS (r15): report the partition layout —
    * the WHOLE transform family: identity, bucket, the time grains,
    * truncate — as `KeyGroupedPartitioning` so two tables partitioned
    * the same way join WITHOUT A SHUFFLE — at 100 TB the exchange
    * either side of a fact-fact join is usually the whole query cost,
    * and co-located layouts (Iceberg/Hive bucketing) exist to delete
    * it. Spark groups the per-file partitions by their
    * `partitionKey()` (one task per key,
    * `spark.sql.sources.v2.bucketing.enabled`), and the
    * `FunctionCatalog`-resolved transforms make both sides'
    * clusterings provably compatible. The report withdraws to Unknown —
    * never a wrong key — when any planned file lies outside a decodable
    * partition directory (legacy root files, double identity columns).
    * Runtime-filter re-planning keeps the keys: a filtered subset of a
    * key-grouped scan is still key-grouped. */
  /** ONE static-filter pruned listing SNAPSHOT, shared by the SPJ
    * partitioning report and partition planning: the walk (and the
    * stats-sidecar load inside keptDataFiles) runs once per scan, the
    * walk-time pruning contract holds for both consumers, and —
    * because planning keys partitions from exactly this snapshot — the
    * report and the planned keys can never diverge under a concurrent
    * writer (a file landing between two listings could otherwise reach
    * planning unkeyed while KeyGrouped stood reported). Runtime filters
    * only ever SHRINK this set per file, never re-walk. */
  private lazy val staticKept: Array[(java.io.File, String)] =
    keptDataFiles(filters.toSeq)

  private lazy val spjKeys: Option[Map[String, Array[Any]]] = {
    if (partSpec0.isEmpty) None
    else {
      val keyed = staticKept.flatMap { case (_, rel) =>
        JsonDocSource.partKeyOf(partSpec0, rel).map(rel -> _)
      }
      if (keyed.length == staticKept.length && staticKept.nonEmpty)
        Some(keyed.toMap)
      else None
    }
  }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some(keys) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          partSpec0.map(JsonDocSource.transformExprOf)
            .toArray[org.apache.spark.sql.connector.expressions.Expression],
          keys.values.map(_.toSeq).toSet.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  // the table's partition spec, read from the schema sidecar once
  // per scan (planInputPartitions can run several times — runtime
  // filters re-plan — and each read is driver-side file I/O)
  private lazy val partSpec0: Seq[GraftCatalog.PartField] =
    GraftCatalog.partitionSpecOf(path)

  /** Runtime (DPP-style) filtering — the LAST pushdown negotiation Spark
    * offers a batch DSv2 scan, and the one that only resolves at
    * EXECUTION time: when this scan is the probe side of a join whose
    * build side is small and selectively filtered, Spark executes the
    * build side first, collects the distinct join keys, and hands them
    * here as an `In` filter BEFORE `createReaderFactory` is called
    * (BatchScanExec evaluates filteredPartitions first). The readers
    * then drop non-joining lines at parse time — at 100 TB the probe
    * side ships only rows that can actually join, the row-level analogue
    * of partition pruning (this source has no partitions to prune, so
    * file-level skipping is impossible without per-file stats; row-level
    * is the honest variant). Unevaluable runtime-filter shapes are
    * simply ignored — runtime filters are an optimization, the join
    * re-checks keys anyway, so keeping extra rows is safe and dropping
    * on a misevaluated filter would not be. */
  /** Rewrite scans (`runtimeFilterable = false`) accept runtime filters
    * ONLY on `_file` — that is GROUP filtering (Spark's
    * RowLevelOperationRuntimeGroupFiltering semi-joins the table with
    * the source on the command's condition and delivers the matching
    * file names), and it is safe under copy-on-write precisely because
    * it excludes whole groups: a pruned file is never read AND never
    * replaced, so its rows survive untouched on disk. A runtime filter
    * on a DATA column would drop rows from files that still get
    * rewritten — the data-loss shape the rewrite scan otherwise
    * refuses. */
  override def filterAttributes(): Array[NamedReference] =
    if (runtimeFilterable) readSchema0.fieldNames.map(Expressions.column)
    else readSchema0.fieldNames.filter(_ == JsonDocSource.FileMetaCol)
      .map(Expressions.column)

  private var runtimeFilters: Array[Filter] = Array.empty
  override def filter(runtime: Array[Filter]): Unit = {
    def evaluable(a: String): Boolean = readSchema0.fieldNames.contains(a)
    runtimeFilters = runtime.filter {
      case In(a, _) => evaluable(a)
      case EqualTo(a, _) => evaluable(a)
      case IsNotNull(a) => evaluable(a)
      case _ => false
    }
  }

  private def listFiles(): Array[java.io.File] =
    JsonDocSource.listDataFiles(path, pinned)

  /** Partition planning with FILE SKIPPING: files whose `_stats.json`
    * ranges provably exclude every effective filter — static pushed AND
    * runtime In filters (BatchScanExec re-plans partitions after
    * delivering runtime filters) — never become partitions, so their
    * bytes are never read. Files without stats entries always scan. */
  /** The filter-pruned file listing — PARTITION PRUNING first (r13;
    * transform-aware r14): a Hive-style `col=value` path component is a
    * point range for that column, so the SAME compiled pruner evaluates
    * it (EqualTo/range/In all work), while `col_day=`/`col_bucket=`
    * components are decided by their transform semantics; files in
    * non-matching directories are dropped on the NAME alone, before the
    * stats sidecar is even consulted. Undecodable components keep the
    * file (conservative, the sidecar's standing rule). Excluded
    * partition SUBTREES are skipped during the walk itself (r14 — at
    * 10^5 directories the listing is the planning cost); the per-file
    * partPruned stays as the correctness backstop. Shared by partition
    * planning (static + runtime filters) and the SPJ partitioning
    * report (static filters only). */
  private def keptDataFiles(
      effective: Seq[Filter]): Array[(java.io.File, String)] = {
    val keep = JsonDocStats.pruner(effective) // compiled once
    val partPruned = JsonDocSource.partitionPruned(partSpec0, effective, keep)
    val stats = JsonDocStats.load(path)
    // `_file` constraints (runtime GROUP filters, or a user filter on
    // the metadata column) skip by NAME — no stats entry needed
    val nameSets = effective.collect {
      case In(a, vs) if a == JsonDocSource.FileMetaCol =>
        vs.filter(_ != null).map(String.valueOf(_)).toSet
      case EqualTo(a, v) if a == JsonDocSource.FileMetaCol && v != null =>
        Set(String.valueOf(v))
    }
    // per-file Bloom membership (r16): equality/In keys absent from a
    // file's filter exclude it — the point-lookup prune min/max cannot
    // make. Compiled lazily: no point constraint = no sidecar load.
    val bloomKeep = JsonDocBlooms.pruner(path, effective)
    JsonDocSource.listDataFiles(path, pinned,
        JsonDocSource.partitionDirPruned(partSpec0, effective, keep))
      .map(f => (f, JsonDocSource.relName(path, f)))
      .filter { case (_, rel) => !partPruned(rel) }
      .filter { case (_, rel) => nameSets.forall(_.contains(rel)) }
      .filter { case (_, rel) => stats.get(rel).forall(keep) }
      .filter { case (_, rel) => bloomKeep(rel) }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // the static snapshot, narrowed per file by any runtime filters —
    // an in-memory pass, never a second directory walk (see staticKept)
    val kept =
      if (runtimeFilters.isEmpty) staticKept
      else {
        val effective = (filters ++ runtimeFilters).toSeq
        val keep = JsonDocStats.pruner(effective)
        val partPruned = JsonDocSource.partitionPruned(partSpec0, effective, keep)
        val stats = JsonDocStats.load(path)
        val nameSets = effective.collect {
          case In(a, vs) if a == JsonDocSource.FileMetaCol =>
            vs.filter(_ != null).map(String.valueOf(_)).toSet
          case EqualTo(a, v) if a == JsonDocSource.FileMetaCol && v != null =>
            Set(String.valueOf(v))
        }
        // runtime In keys (DPP, MERGE/DELETE group filtering) probe the
        // per-file Blooms too — this is where a point DELETE's key set
        // narrows the rewrite to the files that can actually match
        val bloomKeep = JsonDocBlooms.pruner(path, effective)
        staticKept
          .filter { case (_, rel) => !partPruned(rel) }
          .filter { case (_, rel) => nameSets.forall(_.contains(rel)) }
          .filter { case (_, rel) => stats.get(rel).forall(keep) }
          .filter { case (_, rel) => bloomKeep(rel) }
      }
    // report the FINAL planned group set to the row-level operation (the
    // copy-on-write commit replaces exactly these files). Calls after a
    // runtime filter lands re-report; the filter state is set-once, so
    // the last report is always the narrowest.
    plannedSink.foreach(_(kept.map(_._2)))
    // delete vectors of the scanned snapshot (r14): resolved here, once,
    // so a concurrent MOR commit can't change what a running scan reads;
    // reported to the row-level operation as its commit's conflict basis
    val dvs = JsonDocVersions.dvsFor(path, pinned)
    dvSink.foreach(_(dvs))
    // equality deletes of the scanned snapshot (r15): an eq set written
    // at version E applies to files ADDED before E (addedAt sequencing),
    // so each partition carries exactly its applicable subset — an
    // epoch's own inserts never fold their own epoch's delete
    val (eqs, addedAt) = JsonDocVersions.eqsFor(path, pinned)
    def eqPathsFor(rel: String): Seq[String] =
      if (eqs.isEmpty) Seq.empty
      else {
        val added = addedAt.getOrElse(rel, Int.MaxValue)
        eqs.collect { case (ev, n) if ev > added =>
          new java.io.File(path, n).getAbsolutePath }
      }
    kept.map { case (f, rel) =>
      JsonDocPartition(f.getAbsolutePath, rel,
        dvs.get(rel).map(new java.io.File(path, _).getAbsolutePath).getOrElse(""),
        eqPathsFor(rel),
        // SPJ key (r15): attached iff the scan reported KeyGrouped —
        // from the SAME snapshot the report was computed on (kept ⊆
        // staticKept by construction), so no partition can reach Spark
        // unkeyed while KeyGrouped stands
        spjKeys.map(_(rel)).orNull): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonDocReaderFactory(readSchema0, filters ++ runtimeFilters, limit,
      GraftCatalog.renamesOf(path), existsDefaults)

  /** Source-reported size (`SupportsReportStatistics`): the bytes on
    * disk. Without this a DSv2 scan defaults to "unknown = huge" and a
    * join against it can never broadcast — with it, a small response
    * directory joins as the build side of a BroadcastHashJoin exactly
    * like a small parquet dimension would (SourceSinkSpec pins the plan
    * shape). numRows stays empty: lines are not counted without
    * reading, and a wrong row estimate is worse than none. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val files = listFiles()
    private val bytes = files.map(_.length()).sum
    private val sidecar = JsonDocStats.load(path)
    // exact row count when the stats sidecar covers EVERY file (i.e.
    // the dir was written by the V2 writer); empty otherwise — a wrong
    // row estimate is worse than none
    private val rows: java.util.OptionalLong = {
      val per = files.map(f =>
        sidecar.get(JsonDocSource.relName(path, f)).map(_.rows).filter(_ >= 0))
      // equality deletes (r15) CANNOT subtract without reading (a key
      // may or may not match rows) — withdraw the estimate rather than
      // report a count the scan will contradict
      if (files.nonEmpty && per.forall(_.isDefined) &&
        JsonDocVersions.eqsFor(path, pinned)._1.isEmpty) {
        // delete vectors subtract EXACTLY (positions are enumerated), so
        // the count stays exact under merge-on-read deletes (r14)
        val dvDeleted = JsonDocDeleteVectors.countsFor(path, pinned).values.sum
        java.util.OptionalLong.of(per.flatten.sum - dvDeleted)
      } else java.util.OptionalLong.empty()
    }
    // PUSHED-FILTER selectivity (r17, verdict item 4): this source
    // claims eligible filters COMPLETELY (rows re-check inside the
    // reader), so no Filter node survives for catalyst's own
    // estimation to shrink — the scan itself must report post-filter
    // statistics or a selectively-filtered big table can never win
    // the broadcast side of a join. Equality/In shrink by the
    // sidecar's merged NDV, null tests by the null counts, numeric
    // ranges by linear interpolation over [min,max]; anything the
    // stats can't price keeps factor 1.0 (conservative — an
    // OVERestimate only costs a shuffle; an underestimate from a
    // missing sketch could broadcast a monster). The floor is one row.
    private lazy val selectivity: Double = {
      val dataFilters = filters.filterNot(f =>
        f.references.contains(JsonDocSource.FileMetaCol))
      if (dataFilters.isEmpty) 1.0
      else {
        val entries = files.flatMap(f => sidecar.get(JsonDocSource.relName(path, f)))
        if (entries.length != files.length || entries.isEmpty ||
          entries.exists(_.rows < 0)) 1.0
        else {
          val totalRows = math.max(1L, entries.map(_.rows).sum)
          // ONE merge shared by every range conjunct (the union walks
          // all entries × all columns — per-filter recomputation was
          // O(filters × files × cols) driver work at planning)
          lazy val merged = JsonDocStats.union(entries.map(Some(_)))
          def ndvOf(c: String): Option[Long] =
            if (entries.forall(_.ndv.contains(c)))
              Some(math.max(1L, JsonDocNdv.estimate(
                entries.map(_.ndv(c)).reduce(JsonDocNdv.merge))))
            else None
          def nullsOf(c: String): Option[Long] =
            if (entries.forall(_.nulls.contains(c)))
              Some(entries.map(_.nulls(c)).sum)
            else None
          def rangeOf(c: String): Option[(Double, Double)] =
            merged.flatMap(_.cols.get(c)).flatMap {
              case JsonDocStats.ColRange(mn: Long, mx: Long) =>
                Some((mn.toDouble, mx.toDouble))
              case JsonDocStats.ColRange(mn: Double, mx: Double) => Some((mn, mx))
              case _ => None
            }
          def num(v: Any): Option[Double] = v match {
            case n: java.lang.Number => Some(n.doubleValue())
            case _ => None
          }
          def frac(c: String, v: Any, above: Boolean): Double =
            (rangeOf(c), num(v)) match {
              case (Some((mn, mx)), Some(x)) if mx > mn =>
                val f = if (above) (mx - x) / (mx - mn) else (x - mn) / (mx - mn)
                math.min(1.0, math.max(0.0, f))
              case _ => 1.0
            }
          def sel(f: Filter): Double = f match {
            case EqualTo(c, _) => ndvOf(c).map(1.0 / _).getOrElse(1.0)
            case org.apache.spark.sql.sources.EqualNullSafe(c, v) if v != null =>
              ndvOf(c).map(1.0 / _).getOrElse(1.0)
            case In(c, vs) => ndvOf(c)
              .map(n => math.min(1.0, vs.distinct.length.toDouble / n)).getOrElse(1.0)
            case org.apache.spark.sql.sources.IsNull(c) =>
              nullsOf(c).map(_.toDouble / totalRows).getOrElse(1.0)
            case org.apache.spark.sql.sources.IsNotNull(c) =>
              nullsOf(c).map(n => 1.0 - n.toDouble / totalRows).getOrElse(1.0)
            case org.apache.spark.sql.sources.GreaterThan(c, v) => frac(c, v, above = true)
            case org.apache.spark.sql.sources.GreaterThanOrEqual(c, v) => frac(c, v, above = true)
            case org.apache.spark.sql.sources.LessThan(c, v) => frac(c, v, above = false)
            case org.apache.spark.sql.sources.LessThanOrEqual(c, v) => frac(c, v, above = false)
            case org.apache.spark.sql.sources.And(a, b) => sel(a) * sel(b)
            case org.apache.spark.sql.sources.Or(a, b) => math.min(1.0, sel(a) + sel(b))
            case _ => 1.0
          }
          val s = dataFilters.map(sel).product
          math.min(1.0, math.max(1.0 / totalRows, s))
        }
      }
    }

    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, math.ceil(bytes * selectivity).toLong))
    override def numRows(): java.util.OptionalLong =
      if (!rows.isPresent || selectivity >= 1.0) rows
      else java.util.OptionalLong.of(
        math.max(1L, math.round(rows.getAsLong * selectivity)))

    // COLUMN statistics (r17, verdict item 4): per-column distinct
    // counts merged from the sidecar's HLL registers, null counts, and
    // (for cleanly-typed numerics) the min/max bounds — the inputs
    // CBO's FilterEstimation needs to shrink a selective predicate's
    // output estimate by 1/ndv, which is what lets a filtered BIG
    // table win the broadcast side of a join (StatsFlipSpec pins the
    // flip). Computed over the PLANNED (already pruned) files only,
    // and only when EVERY planned file carries a sketch for the
    // column — a partial merge would understate ndv and overstate
    // selectivity, the dangerous direction. Planning-only: estimates
    // never gate correctness.
    private lazy val colStats:
        java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val entries = files.flatMap(f => sidecar.get(JsonDocSource.relName(path, f)))
      if (entries.length == files.length && entries.nonEmpty) {
        // one merge for every column's bounds (same hoist as selectivity)
        lazy val mergedAll = JsonDocStats.union(entries.map(Some(_)))
        readSchema0.fields.foreach { fld =>
          val name = fld.name
          if (entries.forall(_.ndv.contains(name))) {
            val reg = entries.map(_.ndv(name)).reduce(JsonDocNdv.merge)
            val ndvEst = JsonDocNdv.estimate(reg)
            val nullSum: Option[Long] =
              if (entries.forall(_.nulls.contains(name)))
                Some(entries.map(_.nulls(name)).sum)
              else None
            // bounds only when the stat value's runtime shape matches
            // the column type exactly (writer widens ints to Long, so
            // IntegerType columns report no bounds rather than lie)
            val ranges = entries.flatMap(_.cols.get(name))
            val bounds: Option[(Any, Any)] =
              if (ranges.isEmpty) None
              else (fld.dataType, ranges.head.min) match {
                case (LongType, _: Long) | (DoubleType, _: Double) =>
                  mergedAll.flatMap(_.cols.get(name)).map(r => (r.min, r.max))
                case _ => None
              }
            out.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(math.max(1L, ndvEst))
                override def nullCount(): java.util.OptionalLong =
                  nullSum.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  bounds.map(b => java.util.Optional.of(b._1.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
                override def max(): java.util.Optional[Object] =
                  bounds.map(b => java.util.Optional.of(b._2.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty[Object]())
              })
            ()
          }
        }
      }
      out
    }
    override def columnStats():
        java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // a time-travel-pinned table must never resolve as a streaming
    // source: the micro-batch stream tails the LIVE listing, so a
    // pinned read would silently ignore the pin (advice r12) — and a
    // frozen snapshot has no append semantics to stream anyway
    require(pinned.isEmpty,
      s"graft-jsondoc: version-pinned table (VERSION/TIMESTAMP AS OF ${pinned.get}) " +
        "cannot be a streaming source — snapshots are immutable; stream the live table")
    new JsonDocMicroBatchStream(readSchema0, path, filters, checkpointLocation)
  }

  override def description(): String =
    s"graft-jsondoc path=$path pushed=[${filters.mkString(", ")}]" +
      limit.map(n => s" PushedLimit=$n").getOrElse("")
}

/** Scan-side aggregation: same file partitions, but each reader emits
  * exactly ONE partial row (counts + typed min/max) computed while
  * streaming the file — the rows themselves are never materialized to
  * Spark. Pushed filters still apply line-by-line first, so
  * `SELECT count(*) ... WHERE lang = 'en'` ships two longs per file
  * instead of every matching row. */
private[sources] class JsonDocAggScan(aggSchema: StructType, path: String,
    filters: Array[Filter], specs: Seq[JsonAggSpec],
    pinned: Option[Int] = None) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // the same stats-based file skipping as the row scan: Spark only
    // pushes aggregates when EVERY filter pushed, so a file whose range
    // excludes the filters contributes nothing to any partial
    val stats = JsonDocStats.load(path)
    val keep = JsonDocStats.pruner(filters.toSeq)
    val specs = GraftCatalog.partitionSpecOf(path)
    val partPruned = JsonDocSource.partitionPruned(specs, filters.toSeq, keep)
    // excluded subtrees skipped during the walk (r14), as in the row scan
    val files = JsonDocSource.listDataFiles(path, pinned,
      JsonDocSource.partitionDirPruned(specs, filters.toSeq, keep))
    val dvs = JsonDocVersions.dvsFor(path, pinned)
    val (eqs, addedAt) = JsonDocVersions.eqsFor(path, pinned)
    val bloomKeep = JsonDocBlooms.pruner(path, filters.toSeq)
    files.map(f => (f, JsonDocSource.relName(path, f)))
      .filter { case (_, rel) => !partPruned(rel) }
      .filter { case (_, rel) => stats.get(rel).forall(keep) }
      .filter { case (_, rel) => bloomKeep(rel) }
      .map { case (f, rel) =>
        // DVs and equality deletes fold inside the row reader the
        // partial aggregation runs on, so pushed COUNT/MIN/MAX stay
        // exact under MOR (r14) and streaming-upsert (r15) deletes
        val eqPaths =
          if (eqs.isEmpty) Seq.empty[String]
          else {
            val added = addedAt.getOrElse(rel, Int.MaxValue)
            eqs.collect { case (ev, n) if ev > added =>
              new java.io.File(path, n).getAbsolutePath }
          }
        JsonDocPartition(f.getAbsolutePath, rel,
          dvs.get(rel).map(new java.io.File(path, _).getAbsolutePath).getOrElse(""),
          eqPaths): InputPartition
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonDocAggReaderFactory(aggSchema, filters, specs,
      GraftCatalog.renamesOf(path))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    throw new IllegalStateException(
      "graft-jsondoc: aggregate pushdown is a batch-only plan shape (Spark does not " +
        "push aggregates into streaming scans); this call indicates a planner bug")

  override def description(): String =
    s"graft-jsondoc path=$path pushed=[${filters.mkString(", ")}] " +
      s"PushedAggregates=[${specs.map(_.name).mkString(", ")}]"
}

private[sources] class JsonDocAggReaderFactory(aggSchema: StructType,
    filters: Array[Filter], specs: Seq[JsonAggSpec],
    aliases: Map[String, Seq[String]] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JsonDocPartition]
    new JsonDocAggReader(p.file, aggSchema, filters, specs, p.dvPath, aliases, p.eqPaths)
  }
}

/** Folds one response file into a single partial-aggregate row. Min/max
  * accumulate in Spark's INTERNAL representation (UTF8String for
  * strings) and compare with the same ordering Spark's final min/max
  * uses, so partial-then-final equals whole-set aggregation exactly;
  * an empty (or fully filtered) file contributes count 0 and null
  * min/max, which the final aggregate ignores. */
private[sources] class JsonDocAggReader(file: String, aggSchema: StructType,
    filters: Array[Filter], specs: Seq[JsonAggSpec], dvPath: String = "",
    aliases: Map[String, Seq[String]] = Map.empty,
    eqPaths: Seq[String] = Seq.empty)
    extends PartitionReader[InternalRow] {

  // every column any spec touches, once, with its declared type
  private val readSchema: StructType = StructType(
    specs.collect {
      case JsonCountCol(c, dt) => (c, dt)
      case JsonMinCol(c, dt) => (c, dt)
      case JsonMaxCol(c, dt) => (c, dt)
    }.distinctBy(_._1).map { case (c, dt) => StructField(c, dt) })

  private val rowReader =
    new JsonDocReader(file, readSchema, filters, dvPath = dvPath, aliases = aliases,
      eqPaths = eqPaths)

  private var done = false
  private var result: InternalRow = _

  private def cmpInternal(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case _ => throw new IllegalStateException(s"unorderable agg values: $a / $b")
  }

  override def next(): Boolean = {
    if (done) return false
    val colIdx = readSchema.fieldNames.zipWithIndex.toMap
    val counts = new Array[Long](specs.size)
    val minmax = new Array[Any](specs.size)
    while (rowReader.next()) {
      val row = rowReader.get()
      var i = 0
      while (i < specs.size) {
        specs(i) match {
          case JsonCountStar => counts(i) += 1L
          case JsonCountCol(c, _) =>
            if (!row.isNullAt(colIdx(c))) counts(i) += 1L
          case JsonMinCol(c, dt) =>
            val v = if (row.isNullAt(colIdx(c))) null else row.get(colIdx(c), dt)
            if (v != null && (minmax(i) == null || cmpInternal(v, minmax(i)) < 0)) minmax(i) = v
          case JsonMaxCol(c, dt) =>
            val v = if (row.isNullAt(colIdx(c))) null else row.get(colIdx(c), dt)
            if (v != null && (minmax(i) == null || cmpInternal(v, minmax(i)) > 0)) minmax(i) = v
        }
        i += 1
      }
    }
    result = InternalRow.fromSeq(specs.zipWithIndex.map {
      case (JsonCountStar, i) => counts(i)
      case (JsonCountCol(_, _), i) => counts(i)
      case (_, i) => minmax(i)
    })
    done = true
    true
  }

  override def get(): InternalRow = result
  override def close(): Unit = rowReader.close()
}

/** Streaming form of the same source (SURVEY.md §2B scans row:
  * "TableProvider + MicroBatchStream"): the endpoint directory is an
  * append-only log of response bodies — each poll that finds new files
  * turns exactly those files into the next micro-batch. The offset is a
  * HIGH-WATERMARK FILE NAME — the lexicographically greatest name already
  * consumed ("" = nothing consumed); writers append with names sorting
  * after earlier batches, and a batch is exactly the files with
  * watermark < name <= end. Identifying consumed files by NAME (not by
  * position in the current listing, as a file-count offset would) means
  * deleting or renaming an already-consumed file can never shift which
  * files replay after a restart: replay is driven by the committed name
  * alone. Pushdown/pruning from the shared ScanBuilder applies to every
  * micro-batch identically to the batch path. */
private[sources] case class FileNameOffset(name: String,
    version: Option[Int] = None) extends Offset {
  // legacy shape (plain name) for manifest-less directories, so old
  // checkpoints keep deserializing; manifest-versioned directories carry
  // the snapshot version alongside — the consumed window's basis, which
  // lets a restart PROVE the directory stayed append-only while down
  override def json(): String = version match {
    case Some(v) => s"""{"n":${com.fasterxml.jackson.databind.node.TextNode.valueOf(name).toString},"v":$v}"""
    case None => name
  }
}

private[sources] object FileNameOffset {
  def parse(json: String): FileNameOffset =
    if (json.startsWith("{")) {
      val node = new ObjectMapper().readTree(json)
      FileNameOffset(node.get("n").asText(),
        Option(node.get("v")).map(_.asInt()))
    } else FileNameOffset(json)
}

private[sources] class JsonDocMicroBatchStream(readSchema: StructType,
    path: String, filters: Array[Filter],
    checkpointLocation: String = "") extends MicroBatchStream {

  private def files(): Array[java.io.File] =
    JsonDocSource.listDataFiles(path)

  /** The watermark must never regress: if the greatest-named file is
    * deleted while earlier consumed files remain, a fresh listing's max
    * would move backwards and re-admit those earlier names. */
  private var hwm: String = ""

  /** Names seen in any previous listing of THIS instance; null until the
    * first listing (whose below-watermark files are presumed consumed —
    * the normal restart picture — and seeded silently). A name that
    * first APPEARS at or below the watermark on a later listing violates
    * the append-in-name-order contract (slow concurrent writer,
    * non-zero-padded numeric names like b10 < b9) and would otherwise be
    * skipped with zero observability — the one failure the offset
    * semantics can't make safe, so at least make it loud. */
  private var known: Set[String] = null

  /** Names this instance actually handed to a batch. A file can land
    * between latestOffset() and planInputPartitions() and still make the
    * in-flight batch (planning re-lists the directory) — such a file is
    * consumed, not lost, and must not be warned about. */
  private var planned: Set[String] = Set.empty

  /** Manifest basis of the consumed window: the snapshot version (and
    * its cached live set) this consumer has already validated up to.
    * Seeded from the checkpointed offset on restart (set is reloaded
    * from the manifest then); None on a manifest-less directory or a
    * legacy plain-name checkpoint. */
  private var seenVersion: Option[Int] = None
  private var seenLive: Option[Set[String]] = None
  private var seenDvs: Option[Map[String, String]] = None

  /** A recovered checkpoint whose offsets are plain names (pre-r13, or a
    * manifest that appeared under an old stream) pins the instance to
    * NAME mode for its whole lifetime — mixing modes inside one
    * checkpoint lineage would turn a version-less start offset into
    * "re-deliver everything". */
  private var legacyNameMode = false

  /** VERSION mode (r13, manifest-backed directories): a micro-batch is
    * the LIVE-SET DIFF between snapshot versions — immune to name
    * ordering, which batch appends (UUID-named files) and partition
    * directories both break. Name mode remains for manifest-less
    * response directories, where names are the only order there is. */
  private def versionMode: Boolean =
    !legacyNameMode && JsonDocVersions.latest(path).isDefined

  /** A streaming-consumed directory must stay APPEND-ONLY in live-set
    * terms (r12 verdict item 4): OPTIMIZE, copy-on-write MERGE/UPDATE/
    * DELETE, and truncate all REPLACE live names, and a name-watermark
    * offset cannot split a rewritten file at the watermark — delivering
    * it duplicates consumed rows, skipping it loses unconsumed ones
    * (and a rewrite's output can even sort below the watermark, where
    * it would be skipped with zero observability). So every trigger —
    * and, via the version carried in the checkpointed offset, every
    * RESTART — diffs the manifest live set against the validated basis
    * and aborts loudly on any removal, or on any addition at-or-below
    * the watermark. Pure appends (new names above the watermark)
    * advance the basis silently. Manifest-less directories keep the
    * name-order contract alone (nothing can compact or rewrite them). */
  private def validateAppendOnly(): Unit = {
    // a table carrying EQUALITY DELETES (r15, streaming upsert) is not
    // append-only at file grain: an eq commit changes row visibility
    // without touching any file name, which no file-granular offset can
    // represent — refuse loudly instead of silently re-delivering or
    // skipping upserted rows (the same contract as retired files).
    // OPTIMIZE purges eqs; a compacted upsert table streams again.
    if (JsonDocVersions.eqsFor(path, None)._1.nonEmpty)
      throw new IllegalStateException(
        s"graft-jsondoc streaming source on $path: the table carries equality " +
          "deletes (streaming-upsert DML) — row visibility changes without " +
          "file-level appends, which a file-granular stream cannot deliver. " +
          "Run OPTIMIZE to fold the deletes, or consume the table in batch.")
    validateAppendOnly0()
  }

  private def validateAppendOnly0(): Unit =
    JsonDocVersions.latest(path).foreach { case (v, live) =>
      seenVersion match {
        case Some(v0) if v != v0 =>
          if (v < v0)
            throw new IllegalStateException(
              s"graft-jsondoc streaming source on $path: manifest chain went " +
                s"backwards (v$v0 -> v$v) under a checkpointed consumer — " +
                "the directory was replaced or restored; re-ingest from a " +
                "fresh checkpoint.")
          val base = seenLive.orElse(JsonDocVersions.read(path, v0)).getOrElse(
            throw new IllegalStateException(
              s"graft-jsondoc streaming source on $path: snapshot v$v0 — the " +
                s"basis of this checkpoint — has been expired/vacuumed, so the " +
                s"consumed window (v$v0 -> v$v) cannot be proven append-only. " +
                "Keep snapshots at least as long as checkpointed consumers, " +
                "or re-ingest from a fresh checkpoint."))
          // rewrite-EXPLAINED removals (r14, verdict item 5): OPTIMIZE
          // records exactly which inputs each output replaced, so these
          // removals are not data loss — the per-batch planner decides
          // each output's fate (skip when fully consumed, deliver when
          // fresh, abort loudly on a mixed or purged-consumed shape)
          val rewriteInputs: Set[String] =
            if (versionMode)
              (v0 + 1 to v).flatMap(vi =>
                JsonDocVersions.readRewrites(path, vi).values.flatMap(_.from)).toSet
            else Set.empty
          val removed = (base -- live) -- rewriteInputs
          // below-watermark additions are a hazard only for NAME offsets
          // (they would be silently skipped); version offsets deliver by
          // live-set diff, where any new name is an ordinary append
          val addedBelow =
            if (versionMode) Set.empty[String]
            else (live -- base).filter(n => hwm.nonEmpty && n <= hwm)
          if (removed.nonEmpty || addedBelow.nonEmpty)
            throw new IllegalStateException(
              s"graft-jsondoc streaming source on $path: OPTIMIZE ran under a checkpointed consumer, " +
                s"or a row-level rewrite/truncate did (v$v0 -> v$v removed " +
                s"${removed.size} live file(s) [${removed.take(3).mkString(", ")}]" +
                (if (addedBelow.nonEmpty) s" and added ${addedBelow.size} at-or-below " +
                  s"the watermark '$hwm' [${addedBelow.take(3).mkString(", ")}]" else "") +
                "). A rewritten file cannot be split at the name watermark — rows " +
                "would be duplicated or lost. Only append to streaming-consumed " +
                "directories; compact/rewrite them when no checkpointed stream is " +
                "reading, then re-ingest from a fresh checkpoint.")
          // merge-on-read deletes are the same hazard at row grain (r14):
          // a DV appearing on a file means rows this consumer may already
          // have delivered are now dead — and a replayed batch would fold
          // the NEW vector and deliver different rows than the original
          // run did. Any dv-map drift under a checkpointed consumer
          // aborts loudly (conservative: this includes DVs on files the
          // consumer never delivered — determinism of future replays is
          // the property being protected).
          val dv0 = seenDvs.getOrElse(JsonDocVersions.readDvs(path, v0))
          val dvNow = JsonDocVersions.readDvs(path, v)
          if (dv0 != dvNow) {
            // a rewrite-retired input's DV entry dies with the file —
            // that is the rewrite applying it, not a new delete; the
            // planner's purged-flag check decides whether the consumer
            // already saw those rows (r14)
            val changed = (dv0.keySet ++ dvNow.keySet)
              .filter(k => dv0.get(k) != dvNow.get(k) && !rewriteInputs.contains(k))
            if (changed.nonEmpty) throw new IllegalStateException(
              s"graft-jsondoc streaming source on $path: a merge-on-read " +
                s"DELETE/UPDATE ran under a checkpointed consumer (v$v0 -> v$v " +
                s"changed delete vectors on ${changed.size} file(s) " +
                s"[${changed.take(3).mkString(", ")}]). Delivered rows cannot be " +
                "un-delivered and replays must be deterministic. Only append to " +
                "streaming-consumed directories; run row-level deletes when no " +
                "checkpointed stream is reading, then re-ingest from a fresh " +
                "checkpoint.")
          }
          seenVersion = Some(v); seenLive = Some(live); seenDvs = Some(dvNow)
        case Some(_) => () // unchanged version: nothing to validate
        case None =>
          seenVersion = Some(v); seenLive = Some(live)
          seenDvs = Some(JsonDocVersions.readDvs(path, v))
      }
    }

  override def initialOffset(): Offset = FileNameOffset("")
  override def latestOffset(): Offset = {
    validateAppendOnly()
    val fs = files()
    val names = fs.map(f => JsonDocSource.relName(path, f))
    if (known != null && !versionMode) {
      val late = names.filter(n => !known.contains(n) && !planned.contains(n) && n <= hwm)
      if (late.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(classOf[JsonDocMicroBatchStream]).warn(
          s"graft-jsondoc: ${late.length} file(s) appeared at-or-below the watermark " +
            s"'$hwm' without being planned into any batch and will never be ingested " +
            s"(append-in-name-order contract violated): ${late.take(5).mkString(", ")}")
    }
    // bound both tracking sets to the LIVE listing: an indefinitely
    // running query over an append-then-vacuum directory would
    // otherwise leak driver memory linearly in total files ever seen.
    // Dropping a consumed-then-deleted name is safe — if that name ever
    // REAPPEARS at/below the watermark it will never be re-ingested,
    // which is exactly what the loud warning above exists to say.
    val nameSet = names.toSet
    known = ((if (known == null) Set.empty[String] else known) ++ names)
      .intersect(nameSet)
    planned = planned.intersect(nameSet)
    if (names.nonEmpty && names.last > hwm) hwm = names.last
    FileNameOffset(hwm, if (versionMode) seenVersion else None)
  }
  /** Recovery seeds the in-instance watermark: a fresh instance whose
    * greatest-named consumed file was deleted would otherwise report a
    * listing max BELOW the committed offset from `latestOffset`, and the
    * regressed name would be committed back to the checkpoint. The
    * manifest version rides along (None on legacy plain-name offsets),
    * seeding the append-only validation basis across restarts. */
  override def deserializeOffset(json: String): Offset = {
    val off = FileNameOffset.parse(json)
    if (off.version.isEmpty && off.name.nonEmpty) legacyNameMode = true
    if (off.name > hwm) hwm = off.name
    off.version.foreach { v =>
      // the CHECKPOINTED basis wins even when older: on restart Spark
      // calls latestOffset() before any deserializeOffset, so the fresh
      // instance has self-seeded at the CURRENT version — validating
      // nothing. Resetting to the older checkpointed version re-opens
      // the downtime window, and the next validateAppendOnly() (plan or
      // trigger) proves it append-only or aborts.
      if (seenVersion.forall(_ != v)) {
        seenVersion = Some(v); seenLive = None; seenDvs = None
      }
    }
    off
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // a REPLAYED batch after a restart reaches here before any
    // latestOffset call — validate the downtime window first, or the
    // replay would re-read a rewritten directory as if it were the one
    // the offsets were committed against
    validateAppendOnly()
    val sOff = start.asInstanceOf[FileNameOffset]
    val eOff = end.asInstanceOf[FileNameOffset]
    val listed = files().map(f => (f, JsonDocSource.relName(path, f)))
    val chosen =
      if (versionMode && eOff.version.isDefined &&
        (sOff.version.isDefined || sOff.name.isEmpty)) {
        // the batch is live(v_end) -- live(v_start): append order comes
        // from the manifest chain, not the names, so UUID-named batch
        // appends and partition directories deliver correctly
        // an expired START basis must throw like the end-version path
        // below does (advice r13): getOrElse(Set.empty) would silently
        // re-deliver the entire endLive — every already-consumed file
        // duplicated, in exactly the scenario the loud guards exist for
        val startLive = sOff.version match {
          case Some(v) => JsonDocVersions.read(path, v).getOrElse(
            throw new IllegalStateException(
              s"graft-jsondoc streaming source on $path: snapshot v$v — the " +
                "basis of a checkpointed batch — has been expired/vacuumed; " +
                "keep snapshots at least as long as checkpointed consumers"))
          case None => Set.empty[String] // initial offset: nothing consumed yet
        }
        val endLive = JsonDocVersions.read(path, eOff.version.get).getOrElse(
          throw new IllegalStateException(
            s"graft-jsondoc streaming source on $path: snapshot v${eOff.version.get} " +
              "of a checkpointed batch has been expired/vacuumed — keep snapshots " +
              "at least as long as checkpointed consumers"))
        // REBASE across compaction (r14, verdict item 5): walk the
        // window's manifests expanding the consumed set through each
        // recorded rewrite — a pure-concat output ALL of whose inputs
        // were consumed is itself fully consumed (skippable, zero
        // duplicates); an output none of whose inputs were consumed is
        // fresh (delivered whole, zero loss). A MIXED output cannot be
        // split at file grain, and a PURGED output's consumed inputs had
        // rows deleted after delivery — both abort loudly. The walk
        // depends only on the manifest chain, so a replayed batch
        // resolves identically.
        var consumed = startLive
        sOff.version.foreach { vs =>
          (vs + 1 to eOff.version.get).foreach { vi =>
            JsonDocVersions.readRewrites(path, vi).toSeq.sortBy(_._1).foreach {
              case (out, rw) =>
                val c = rw.from.count(consumed.contains)
                if (c == rw.from.size && rw.from.nonEmpty) {
                  if (rw.purged)
                    throw new IllegalStateException(
                      s"graft-jsondoc streaming source on $path: compaction v$vi applied " +
                        s"delete vectors to fully-consumed inputs of $out — rows this " +
                        "consumer already delivered were deleted; re-ingest from a " +
                        "fresh checkpoint.")
                  consumed += out
                } else if (c > 0)
                  throw new IllegalStateException(
                    s"graft-jsondoc streaming source on $path: compaction v$vi merged " +
                      s"consumed and unconsumed inputs into $out — a compacted file " +
                      "cannot be split at the consumption boundary; compact only " +
                      "fully-ingested files under a checkpointed consumer, or " +
                      "re-ingest from a fresh checkpoint.")
            }
          }
        }
        val range = endLive -- consumed
        listed.filter { case (_, rel) => range.contains(rel) }
      } else
        listed.filter { case (_, rel) => rel > sOff.name && rel <= eOff.name }
    // every name in the range counts as PLANNED (offsets are name-range
    // based, so a stats-skipped file is still consumed by its batch) —
    // skipping only removes the read, exactly like the batch scan, and
    // only against the STATIC pushed filters (deterministic on replay:
    // a file whose range excludes them can never contribute rows)
    planned ++= chosen.map(_._2)
    val stats = JsonDocStats.load(path)
    val keep = JsonDocStats.pruner(filters.toSeq)
    // directory-level pruning too (r13): deterministic on replay for the
    // same reason stats skipping is — only STATIC pushed filters reach a
    // micro-batch, and a pruned file's rows can never contribute
    val partPruned = JsonDocSource.partitionPruned(path, filters.toSeq, keep)
    // current DVs fold into delivery (a fresh stream over a table that
    // already carries deletes must not deliver dead rows); any dv drift
    // UNDER a checkpointed consumer aborted in validateAppendOnly above,
    // so replayed batches always fold the same vectors (r14)
    val dvs = JsonDocVersions.dvsFor(path, None)
    // per-file Blooms (r16) prune here too — deterministic on replay by
    // the same argument as stats: only STATIC pushed filters reach a
    // micro-batch, and a bloom-excluded file can never contribute rows
    val bloomKeep = JsonDocBlooms.pruner(path, filters.toSeq)
    chosen.filter { case (_, rel) => !partPruned(rel) }
      .filter { case (_, rel) => stats.get(rel).forall(keep) }
      .filter { case (_, rel) => bloomKeep(rel) }
      .map { case (f, rel) =>
        JsonDocPartition(f.getAbsolutePath, rel,
          dvs.get(rel).map(new java.io.File(path, _).getAbsolutePath).getOrElse("")): InputPartition
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonDocReaderFactory(readSchema, filters,
      aliases = GraftCatalog.renamesOf(path),
      existsDefaults = GraftCatalog.existsDefaultsForTable(path, readSchema))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `rel` is the table-root-relative listing key (equal to the bare file
  * name on flat layouts); it is what `_file` reports and what planned
  * sets/manifests/stats use, so group filtering round-trips on
  * partitioned layouts too. Empty only for hand-built legacy values.
  * `dvPath` is the absolute path of the file's delete vector under the
  * scanned snapshot ("" = no deletes) — resolved at PLANNING time from
  * the snapshot's manifest, so concurrent MOR commits can't change what
  * a running scan reads (r14). */
private[sources] case class JsonDocPartition(file: String, rel: String = "",
    dvPath: String = "", eqPaths: Seq[String] = Seq.empty,
    partKeyVals: Array[Any] = null) extends InputPartition with HasPartitionKey {
  def relOrName: String =
    if (rel.nonEmpty) rel else new java.io.File(file).getName
  /** Non-null exactly when the scan reported KeyGroupedPartitioning —
    * Spark only consults it then (storage-partitioned joins, r15). */
  override def partitionKey(): InternalRow =
    if (partKeyVals == null) null
    else InternalRow.fromSeq(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(partKeyVals))
}

/** Token-streaming single-line JSON field capture (r19 optimization,
  * guide §1.2 "per-task work"): parses ONE newline-delimited JSON
  * object with a streaming JsonParser, materializing Jackson VALUE
  * NODES for ONLY the `needed` top-level fields — the read schema,
  * filter and eq-delete-key columns plus their rename aliases — and
  * token-skipping every other field's value. The previous per-row
  * `mapper.readTree(line)` built a full ObjectNode tree (LinkedHashMap
  * + a node per field, needed or not) through the tree deserializer on
  * EVERY scanned line of EVERY staged/backing/postings table — the one
  * systematic scan-side CPU tax left after r18 (the r18 verdict's
  * headline item).
  *
  * FIDELITY, the reason this was deferred a round: captured scalars are
  * the SAME Jackson node classes `readTree` would produce —
  * Int/Long/BigIntegerNode by the token's integer size class,
  * DoubleNode for JSON floats (the default-config tree shape),
  * TextNode/BooleanNode/NullNode — so every downstream coercion the
  * reader's projection and filter evaluation perform (`asLong` on a
  * textual node, `asText` on numbers, existence-vs-explicit-null,
  * alias fallbacks) behaves byte-identically by construction. A needed
  * field whose value is an OBJECT/ARRAY falls back to
  * `mapper.readTree(parser)` for exactly that subtree (containers read
  * as full tree nodes — `asText()` = "" etc. — paid only where a
  * container actually occurs; the jsondoc writer only emits scalars).
  * Duplicate keys: the LAST occurrence wins, matching readTree's
  * ObjectNode.set. A line whose root is not an object captures nothing
  * (readTree's `node.get(name)` returned null for every name on
  * non-object roots). Malformed JSON still throws: the token walk
  * always consumes the full root object. JsonLineFieldsSpec pins all
  * of this differentially against a readTree reference over the
  * fixture corpus plus adversarial lines. */
private[sources] final class JsonLineFields(needed: Iterable[String],
    mapper: ObjectMapper) {
  import com.fasterxml.jackson.core.{JsonParser => JParser, JsonToken}
  import com.fasterxml.jackson.databind.node._

  private val factory = mapper.getFactory
  private val idx = new java.util.HashMap[String, Integer]()
  needed.foreach { n =>
    if (!idx.containsKey(n)) { idx.put(n, Integer.valueOf(idx.size())); () }
  }
  private val slots = new Array[JsonNode](idx.size())

  /** The captured node of a top-level field of the LAST parsed line, or
    * null when absent — `ObjectNode.get(name)` semantics. Names outside
    * `needed` return null by construction (callers only ever ask for
    * needed names: projection, filter and eq-key lookups all derive
    * from the same sets the constructor received). */
  def get(name: String): JsonNode = {
    val i = idx.get(name)
    if (i == null) null else slots(i.intValue())
  }

  def parse(line: String): Unit = {
    java.util.Arrays.fill(slots.asInstanceOf[Array[AnyRef]], null)
    val p = factory.createParser(line)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT) {
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val i = idx.get(p.currentName())
          val t = p.nextToken()
          if (i != null) slots(i.intValue()) = capture(p, t)
          else if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY) {
            p.skipChildren(); ()
          }
        }
      }
    } finally p.close()
  }

  private def capture(p: JParser, t: JsonToken): JsonNode = t match {
    case JsonToken.VALUE_STRING => TextNode.valueOf(p.getText)
    case JsonToken.VALUE_NUMBER_INT => p.getNumberType match {
      case JParser.NumberType.INT => IntNode.valueOf(p.getIntValue)
      case JParser.NumberType.LONG => LongNode.valueOf(p.getLongValue)
      case _ => BigIntegerNode.valueOf(p.getBigIntegerValue)
    }
    // default tree config: every JSON float becomes a DoubleNode via
    // getDoubleValue (USE_BIG_DECIMAL_FOR_FLOATS is off)
    case JsonToken.VALUE_NUMBER_FLOAT => DoubleNode.valueOf(p.getDoubleValue)
    case JsonToken.VALUE_TRUE => BooleanNode.TRUE
    case JsonToken.VALUE_FALSE => BooleanNode.FALSE
    case JsonToken.VALUE_NULL => NullNode.getInstance
    // containers (and any exotic token): the real tree for that subtree
    case _ => mapper.readTree[JsonNode](p)
  }
}

private[sources] class JsonDocReaderFactory(readSchema: StructType,
    filters: Array[Filter], limit: Option[Int] = None,
    aliases: Map[String, Seq[String]] = Map.empty,
    existsDefaults: Map[String, Any] = Map.empty) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[JsonDocPartition]
    new JsonDocReader(p.file, readSchema, filters, limit, p.relOrName, p.dvPath,
      aliases, p.eqPaths, existsDefaults)
  }
}

/** Streams one response file line-by-line; applies pushed filters on the
  * parsed JSON BEFORE building an InternalRow (source-side evaluation).
  * A pushed partial limit stops the scan after that many rows SURVIVE
  * the filters — later lines are never parsed. */
private[sources] class JsonDocReader(file: String, readSchema: StructType,
    filters: Array[Filter], limit: Option[Int] = None, rel: String = "",
    dvPath: String = "", aliases: Map[String, Seq[String]] = Map.empty,
    eqPaths: Seq[String] = Seq.empty,
    existsDefaults: Map[String, Any] = Map.empty)
    extends PartitionReader[InternalRow] {

  // the `_file` value: the table-relative listing key (bare name on
  // flat layouts — `rel` defaults from the basename for direct callers)
  private val fileKey: String =
    if (rel.nonEmpty) rel else new java.io.File(file).getName

  private val mapper = new ObjectMapper()
  private val lines = scala.io.Source.fromFile(file, "UTF-8")
  private val it = lines.getLines().filter(_.nonEmpty)
  private var current: InternalRow = _
  private var emitted = 0

  // merge-on-read fold (r14): positions deleted from this file under
  // the scanned snapshot; rows at these positions never reach Spark.
  // Loaded executor-side once per partition — a DV is deleted-row-count
  // sized, the quantity MOR exists to keep small between compactions.
  private val deleted: java.util.HashSet[java.lang.Long] =
    if (dvPath.isEmpty) new java.util.HashSet()
    else {
      val dvFile = new java.io.File(dvPath)
      val set = new java.util.HashSet[java.lang.Long]()
      JsonDocDeleteVectors.read(dvFile.getParent, dvFile.getName)
        .foreach(p => set.add(p))
      set
    }

  // the row's absolute position among non-empty lines (the `_pos`
  // metadata value and the DV coordinate): counts every parsed line,
  // so pushed filters and DV skips never shift later positions
  private var pos = -1L

  // EQUALITY-DELETE fold (r15): eq sets whose commit version exceeds
  // this file's addedAt — resolved at PLANNING time like the DV, loaded
  // through the executor memo (eq files are shared across a scan's
  // partitions). A row whose key tuple is in any applicable set is
  // dead under this snapshot. Key extraction is rename-aware via
  // fieldNode; a null/missing key can never match (writers refuse null
  // keys at write time).
  private val eqSets: Seq[JsonDocEqDeletes.EqSet] =
    eqPaths.map(JsonDocEqDeletes.read)

  /** Runtime `In` filters carry the build side's distinct join keys —
    * thousands of values — so membership must be O(1) per line, not a
    * linear scan of the value array. Each numeric value is stored under
    * BOTH its long (when whole) and double boxing, matching the two
    * numeric shapes `rawValue` produces; lookup is then one `contains`
    * on the raw token value. Cross-type double collisions can only ADD
    * rows (the join re-checks keys), never drop them. */
  private val inSets: Map[String, java.util.HashSet[Any]] =
    filters.collect { case In(a, vs) =>
      val set = new java.util.HashSet[Any](vs.length * 2)
      vs.foreach {
        case n: Number =>
          val d = n.doubleValue()
          set.add(d)
          if (d == Math.rint(d) && !d.isInfinite) set.add(n.longValue())
        case x if x != null => set.add(x)
        case _ => ()
      }
      a -> set
    }.toMap

  /** Token-capture of exactly the fields any consumer of a line can ask
    * for: the read schema (projection), filter references (passes),
    * eq-delete keys (rowDeleted) — plus every rename alias of those
    * (a line lacking a current name falls back through its old names).
    * Everything else in the line is token-skipped unparsed (r19). */
  private val lineFields: JsonLineFields = {
    val base = scala.collection.mutable.LinkedHashSet.empty[String]
    readSchema.fields.foreach(f => base += f.name)
    filters.foreach(_.references.foreach(base += _))
    eqSets.foreach(_.keys.foreach(base += _))
    new JsonLineFields(
      base.toSeq.flatMap(n => n +: aliases.getOrElse(n, Seq.empty)), mapper)
  }

  /** Field lookup with RENAME name-mapping (r14): a line lacking the
    * current name falls back through the column's former names, newest
    * first — an explicit JSON null is a VALUE (no fallback), only a
    * truly absent key maps. */
  private def fieldNode(name: String): JsonNode = {
    val v = lineFields.get(name)
    if (v != null) v
    else aliases.get(name) match {
      case Some(olds) => olds.iterator.map(lineFields.get).collectFirst {
        case n if n != null => n
      }.orNull
      case None => null
    }
  }

  // readSchema field types by ordinal, so the projection loop does not
  // re-run a linear name search per field per row (r19)
  private val fieldTypes: Array[DataType] = readSchema.fields.map(_.dataType)
  // fieldNames copies the array on every call; hoisted once per reader
  private val fieldNames: Array[String] = readSchema.fieldNames
  // one stable closure for the eq-delete key lookup — `fieldNode _` at
  // the call site would allocate a fresh Function1 per surviving row
  private val fieldNodeFn: String => JsonNode = fieldNode

  private def fieldValue(name: String, dt: DataType): Any = {
    // the `_file`/`_pos` metadata columns never live in the JSON — they
    // are the reader's own provenance
    if (name == JsonDocSource.FileMetaCol)
      return fileKey
    if (name == JsonDocSource.PosMetaCol)
      return pos
    val v = fieldNode(name)
    // EXISTENCE DEFAULT (r16): a TRULY ABSENT key (no current name, no
    // alias) means the line predates the column — serve the frozen ADD
    // COLUMN default. An explicit JSON null is a VALUE a post-add
    // writer materialized and stays NULL.
    if (v == null) existsDefaults.get(name).orNull
    else if (v.isNull) null
    else dt match {
      case LongType => v.asLong()
      case IntegerType => v.asInt()
      case DoubleType => v.asDouble()
      case BooleanType => v.asBoolean()
      case _ => v.asText()
    }
  }

  /** Raw (schema-independent) comparable value for filter columns — may
    * not be in the pruned read schema. */
  private def rawValue(name: String): Any = {
    // keep row-level evaluation of `_file` consistent with the
    // name-based planning skip (a group filter that passed planning
    // must pass per-row too); `_pos` evaluates to the current position.
    // Rename-aware (r14): a pushed filter on a renamed column must
    // evaluate against old files' old name, or it would silently drop
    // every pre-rename row.
    if (name == JsonDocSource.FileMetaCol)
      return fileKey
    if (name == JsonDocSource.PosMetaCol)
      return pos
    val v = fieldNode(name)
    // filters see the SAME existence-default fill as projection (r16):
    // `WHERE region = '<default>'` must match pre-add rows. Normalized
    // to the comparator's raw shapes (integral -> Long).
    if (v == null) existsDefaults.get(name) match {
      case Some(i: java.lang.Integer) => i.longValue()
      case Some(other) => other
      case None => null
    }
    else if (v.isNull) null
    else if (v.isIntegralNumber) v.asLong()
    else if (v.isNumber) v.asDouble()
    else if (v.isBoolean) v.asBoolean()
    else v.asText()
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    // Integral JSON token vs integral constant: exact long compare.
    // Fractional constant (e.g. x = 5.7 against token 5): longValue()
    // would truncate 5.7 → 5 and wrongly match — compare as exact
    // BigDecimals instead (also precision-safe for longs beyond 2^53).
    case (x: Long, y: java.lang.Long) => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: java.lang.Integer) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Long, y: java.lang.Short) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Long, y: java.lang.Byte) => Some(java.lang.Long.compare(x, y.longValue()))
    case (x: Long, y: Number) =>
      val yd = y.doubleValue()
      if (yd.isNaN || yd.isInfinite) Some(java.lang.Double.compare(x.toDouble, yd))
      else Some(java.math.BigDecimal.valueOf(x).compareTo(new java.math.BigDecimal(y.toString)))
    case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  private def passes(): Boolean = filters.forall {
    case EqualTo(a, v) => cmp(rawValue(a), v).contains(0)
    case GreaterThan(a, v) => cmp(rawValue(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(rawValue(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(rawValue(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(rawValue(a), v).exists(_ <= 0)
    case IsNotNull(a) => rawValue(a) != null
    // runtime (join-derived) filters arrive as In over the build side's
    // distinct keys; a null/missing field can never match. O(1) hash
    // lookup against the precomputed dual-boxed set (see inSets).
    case In(a, _) =>
      val raw = rawValue(a)
      raw != null && inSets(a).contains(raw)
    case _ => true
  }

  override def next(): Boolean = {
    current = null
    if (limit.exists(emitted >= _)) return false
    val names = fieldNames
    while (current == null && it.hasNext) {
      val line = it.next()
      pos += 1
      // a DV'd row is dead under this snapshot: skipped before parsing
      // (its position is still consumed — positions are absolute)
      if (!deleted.contains(pos)) {
        // token-walk capture of the needed fields only (r19) — replaces
        // the per-line mapper.readTree full-tree parse
        lineFields.parse(line)
        if (passes() &&
          !(eqSets.nonEmpty &&
            JsonDocEqDeletes.rowDeleted(fieldNodeFn, eqSets))) {
          val values = new Array[Any](names.length)
          var i = 0
          while (i < names.length) {
            values(i) = fieldValue(names(i), fieldTypes(i)) match {
              case s: String => UTF8String.fromString(s)
              case other => other
            }
            i += 1
          }
          current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
          emitted += 1
        }
      }
    }
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
