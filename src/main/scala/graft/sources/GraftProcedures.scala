package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** SQL stored procedures for table maintenance (`ProcedureCatalog` on
  * [[GraftCatalog]] — the DSv2 procedure API Spark 4 added so
  * maintenance is a SQL statement, not a Scala import):
  *
  * {{{
  *   CALL graftcat.vacuum('/data/docs', 2)   -- keep last 2 snapshots
  *   CALL graftcat.optimize('/data/docs', 8388608)
  * }}}
  *
  * Both return their effect as rows (the files vacuum reclaimed; the
  * snapshot version optimize committed, −1 for a no-op), via
  * `LocalScan` — driver-sized results for driver-sized operations. The
  * procedures simply CALL the public Scala API, so SQL and Scala
  * deployments cannot drift. */
private[sources] object GraftProcedures {

  private def scanOf(schema: StructType, result: Seq[InternalRow]): Scan =
    new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = result.toArray
    }

  object VacuumProcedure extends UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "reclaim data files only retired snapshots reference; keep the last `keep_last` versions"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "vacuum"
      override def description(): String = VacuumProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("keep_last", LongType).build())
      override def isDeterministic: Boolean = false // filesystem effect
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val deleted = GraftCatalog.vacuum(
          input.getUTF8String(0).toString, input.getLong(1).toInt)
        val schema = new StructType().add("deleted_file", StringType, nullable = false)
        Iterator(scanOf(schema,
          deleted.map(n => InternalRow(UTF8String.fromString(n))))).asJava
      }
    }
  }

  object ExpireSnapshotsProcedure extends UnboundProcedure {
    override def name(): String = "expire_snapshots"
    override def description(): String =
      "expire snapshots committed before `older_than_ms` (epoch millis); the current version always survives"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "expire_snapshots"
      override def description(): String = ExpireSnapshotsProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("older_than_ms", LongType).build())
      override def isDeterministic: Boolean = false // filesystem effect
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val deleted = GraftCatalog.expireSnapshots(
          input.getUTF8String(0).toString, input.getLong(1))
        val schema = new StructType().add("deleted_file", StringType, nullable = false)
        Iterator(scanOf(schema,
          deleted.map(n => InternalRow(UTF8String.fromString(n))))).asJava
      }
    }
  }

  /** Parameterized on the catalog's registered name so the rewrite
    * resolves the table through the SAME catalog the CALL came in on
    * (nothing hard-codes "graftcat"). */
  final class ClusterProcedure(catalogName: String) extends UnboundProcedure {
    override def name(): String = "cluster"
    override def description(): String =
      "rewrite live rows into `buckets` contiguous-range files of `column` (one atomic snapshot)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "cluster"
      override def description(): String = ClusterProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("column", StringType).build(),
        ProcedureParameter.in("buckets", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val spark = org.apache.spark.sql.SparkSession.active
        GraftCatalog.cluster(spark, s"$catalogName.`$path`",
          input.getUTF8String(1).toString, input.getLong(2).toInt, path = path)
        val v = JsonDocVersions.latest(path).map(_._1.toLong).getOrElse(-1L)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v)))).asJava
      }
    }
  }

  object SetPartitionSpecProcedure extends UnboundProcedure {
    override def name(): String = "set_partition_spec"
    override def description(): String =
      "evolve the partition spec for FUTURE writes ('col, days(ts), bucket(8, k)'; '' unpartitions); existing files keep their layout"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "set_partition_spec"
      override def description(): String = SetPartitionSpecProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("spec", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        GraftCatalog.setPartitionSpec(path, input.getUTF8String(1).toString)
        val schema = new StructType().add("partition", StringType, nullable = false)
        val rows = GraftCatalog.partitionSpecOf(path).map(p =>
          InternalRow(UTF8String.fromString(p.transform match {
            case "identity" => p.field.name
            case "bucket" => s"bucket(${p.buckets}, ${p.field.name})"
            case "truncate" => s"truncate(${p.buckets}, ${p.field.name})"
            case t => s"$t(${p.field.name})" // the time-grain family
          })))
        Iterator(scanOf(schema, rows)).asJava
      }
    }
  }

  object PublishProcedure extends UnboundProcedure {
    override def name(): String = "publish"
    override def description(): String =
      "publish a staged snapshot by version, or a BRANCH by name (its head's cumulative delta)"
    // type-dispatched bind (r14): publish(path, 7) takes a version,
    // publish(path, 'audit') resolves the branch's head first
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      private val byName = inputType.fields.length > 1 &&
        inputType.fields(1).dataType == StringType
      override def name(): String = "publish"
      override def description(): String = PublishProcedure.description()
      override def parameters(): Array[ProcedureParameter] =
        if (byName) Array(
          ProcedureParameter.in("path", StringType).build(),
          ProcedureParameter.in("branch", StringType).build())
        else Array(
          ProcedureParameter.in("path", StringType).build(),
          ProcedureParameter.in("version", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val v =
          if (byName) {
            val n = input.getUTF8String(1).toString
            val head = JsonDocRefs.branches(path).getOrElse(n,
              throw new IllegalArgumentException(
                s"graft-jsondoc: no branch '$n' on $path"))
            require(head > 0, s"graft-jsondoc: branch '$n' of $path has no commits to publish")
            val pub = GraftCatalog.publish(path, head)
            // a published branch is SPENT: drop the pointer so stale
            // re-use fails loudly instead of re-publishing the chain
            JsonDocRefs.dropBranch(path, n)
            pub
          } else GraftCatalog.publish(path, input.getLong(1).toInt)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object CreateBranchProcedure extends UnboundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "create a named branch: subsequent writes with the `branch` option stage a CHAIN off the published table"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "create_branch"
      override def description(): String = CreateBranchProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val n = input.getUTF8String(1).toString
        JsonDocRefs.createBranch(input.getUTF8String(0).toString, n)
        val schema = new StructType().add("branch", StringType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(UTF8String.fromString(n))))).asJava
      }
    }
  }

  object DropBranchProcedure extends UnboundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "drop a branch pointer; its staged chain becomes orphan stages retention reclaims"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "drop_branch"
      override def description(): String = DropBranchProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val n = input.getUTF8String(1).toString
        JsonDocRefs.dropBranch(input.getUTF8String(0).toString, n)
        val schema = new StructType().add("dropped", StringType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(UTF8String.fromString(n))))).asJava
      }
    }
  }

  object FastForwardProcedure extends UnboundProcedure {
    override def name(): String = "fast_forward"
    override def description(): String =
      "publish a branch WITHOUT re-application when the table head has not moved since it forked (O(1) adoption commit)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "fast_forward"
      override def description(): String = FastForwardProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("branch", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = GraftCatalog.fastForward(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object MergeBranchProcedure extends UnboundProcedure {
    override def name(): String = "merge_branch"
    override def description(): String =
      "3-way merge a branch onto the moved head: disjoint touched-file sets commute, overlaps refuse listing the files"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "merge_branch"
      override def description(): String = MergeBranchProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("branch", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = GraftCatalog.mergeBranch(
          input.getUTF8String(0).toString, input.getUTF8String(1).toString)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object CherryPickProcedure extends UnboundProcedure {
    override def name(): String = "cherry_pick"
    override def description(): String =
      "publish ONE staged snapshot's own delta (vs its direct parent) onto the current table"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "cherry_pick"
      override def description(): String = CherryPickProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = GraftCatalog.cherryPick(
          input.getUTF8String(0).toString, input.getLong(1).toInt)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object RecoverTxn2Procedure extends UnboundProcedure {
    override def name(): String = "recover_txn2"
    override def description(): String =
      "roll a crashed two-table transaction forward (decider committed) or back (it didn't), then unlock"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "recover_txn2"
      override def description(): String = RecoverTxn2Procedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val r = GraftTxn2.recover(input.getUTF8String(0).toString)
        val schema = new StructType().add("rolled", StringType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(UTF8String.fromString(r))))).asJava
      }
    }
  }

  object DiscardStagedProcedure extends UnboundProcedure {
    override def name(): String = "discard_staged"
    override def description(): String =
      "drop a staged (unpublished) snapshot; its files become orphans the next vacuum sweeps"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "discard_staged"
      override def description(): String = DiscardStagedProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = input.getLong(1)
        GraftCatalog.discardStaged(input.getUTF8String(0).toString, v.toInt)
        val schema = new StructType().add("discarded", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v)))).asJava
      }
    }
  }

  object RollbackProcedure extends UnboundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "restore the live table to snapshot `version` as a NEW commit (metadata-only; history preserved)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "rollback"
      override def description(): String = RollbackProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = GraftCatalog.rollback(
          input.getUTF8String(0).toString, input.getLong(1).toInt)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object CreateTagProcedure extends UnboundProcedure {
    override def name(): String = "create_tag"
    override def description(): String =
      "name snapshot `version` as tag `name` (VERSION AS OF 'name'); tagged snapshots never expire/vacuum; -1 = current version"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "create_tag"
      override def description(): String = CreateTagProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val tag = input.getUTF8String(1).toString
        val v = input.getLong(2) match {
          // -1 = "current version" = latest PUBLISHED (advice r14: the
          // last manifest can be a STAGED WAP/branch head, and tagging
          // it would pin a snapshot invisible to the current reads the
          // operator just saw — every other 'current table' surface
          // resolves through latestVersion, so this one does too)
          case -1L => JsonDocVersions.latestVersion(path).getOrElse(
            throw new IllegalArgumentException(
              s"graft-jsondoc: cannot tag $path — no published snapshot yet"))
          case n => n.toInt
        }
        JsonDocRefs.createTag(path, tag, v)
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v.toLong)))).asJava
      }
    }
  }

  object DropTagProcedure extends UnboundProcedure {
    override def name(): String = "drop_tag"
    override def description(): String =
      "drop tag `name`, releasing its snapshot to normal retention policy"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "drop_tag"
      override def description(): String = DropTagProcedure.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("path", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val path = input.getUTF8String(0).toString
        val tag = input.getUTF8String(1).toString
        JsonDocRefs.dropTag(path, tag)
        val schema = new StructType().add("dropped", StringType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(UTF8String.fromString(tag))))).asJava
      }
    }
  }

  /** `CALL graftcat.refresh_mv('db.mv')` — fold the base's change feed
    * `(last_folded, head]` into the materialized view ([[GraftMv]]).
    * Returns the folded range and the new watermark; `(from > to)`
    * means the view was already current. Holds the catalog INSTANCE so
    * the namespace resolves against the same warehouse the CALL's
    * catalog points at. */
  final class RefreshMvProcedure(catalog: GraftCatalog) extends UnboundProcedure {
    override def name(): String = "refresh_mv"
    override def description(): String =
      "fold the base table's change feed since the last refresh into the materialized view"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "refresh_mv"
      override def description(): String = RefreshMvProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("view", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        // parse through the SQL parser like the CREATE/DROP DDL path —
        // dotted or backquoted segments address the same names DDL can
        val parts = org.apache.spark.sql.SparkSession.active.sessionState
          .sqlParser.parseMultipartIdentifier(input.getUTF8String(0).toString)
        require(parts.length >= 2,
          "graft catalog: refresh_mv takes 'namespace.view_name'")
        val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
          parts.init.toArray, parts.last)
        require(catalog.mvExists(ident),
          s"graft catalog: no materialized view '${parts.mkString(".")}'")
        val (from, to) = GraftMv.refresh(
          org.apache.spark.sql.SparkSession.active, catalog.name(),
          catalog.mvDefFileOf(ident), catalog.mvDataDirOf(ident), ident.name())
        val schema = new StructType()
          .add("folded_from", LongType, nullable = false)
          .add("folded_to", LongType, nullable = false)
        Iterator(scanOf(schema,
          Seq(InternalRow(from.toLong, to.toLong)))).asJava
      }
    }
  }

  /** `CALL graftcat.ann_state('<index root>')` and
    * `CALL graftcat.text_index_state('<index root>')` — a persisted
    * index's staleness row (the `mv#mvstate` analog): base path, last
    * folded base version (the postings ledger), base head, stale commit
    * count. `what` names the index kind in the description. */
  final class IndexStateProcedure(procName: String, what: String,
      stateOf: String => (String, Int, Int)) extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"report the persisted $what index's base, fold watermark, base head and staleness"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = IndexStateProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (base, last, head) = stateOf(input.getUTF8String(0).toString)
        val schema = new StructType()
          .add("base_path", StringType, nullable = false)
          .add("last_folded_version", LongType, nullable = false)
          .add("base_head", LongType, nullable = false)
          .add("stale_commits", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(
          UTF8String.fromString(base), last.toLong, head.toLong,
          math.max(0L, (head - last).toLong))))).asJava
      }
    }
  }

  /** `CALL graftcat.refresh_ann('<index root>')` and
    * `CALL graftcat.refresh_text_index('<index root>')` — fold the
    * base's change feed into a persisted index ([[FeedIndex]]). Returns
    * the folded range; `(from > to)` means the index was already
    * current. */
  final class RefreshIndexProcedure(procName: String, what: String,
      catalogName: String, refresh: (org.apache.spark.sql.SparkSession, String,
        String) => (Int, Int)) extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"fold the base table's change feed since the last refresh into the persisted $what index"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = RefreshIndexProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (from, to) = refresh(org.apache.spark.sql.SparkSession.active,
          catalogName, input.getUTF8String(0).toString)
        val schema = new StructType()
          .add("folded_from", LongType, nullable = false)
          .add("folded_to", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(from.toLong, to.toLong)))).asJava
      }
    }
  }

  /** `CALL graftcat.create_ann('<index root>', '<base path>', k)` —
    * fit a k-cell coarse quantizer from the base (deterministic
    * sample) and build the persisted IVF index at the base's head
    * ([[graft.sim.AnnIndex]]). Returns the indexed head version. */
  final class CreateAnnProcedure(catalogName: String) extends UnboundProcedure {
    override def name(): String = "create_ann"
    override def description(): String =
      "fit a k-cell coarse quantizer from the base table and build the persisted ANN index at its head"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "create_ann"
      override def description(): String = CreateAnnProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build(),
        ProcedureParameter.in("base_path", StringType).build(),
        ProcedureParameter.in("k", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val spark = org.apache.spark.sql.SparkSession.active
        val root = input.getUTF8String(0).toString
        val base = input.getUTF8String(1).toString
        val cents = graft.sim.AnnIndex.fit(spark, catalogName, base,
          input.getLong(2).toInt)
        val v = graft.sim.AnnIndex.create(spark, catalogName, root, base, cents).toLong
        val schema = new StructType().add("indexed_version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v)))).asJava
      }
    }
  }

  /** `CALL graftcat.ann_search('<index root>', 'x1,x2,...', n_probe, k)`
    * (r18) — cosine top-k over the persisted IVF index for an EXTERNAL
    * query vector (comma-separated doubles; a fresh embedding needs no
    * corpus vec_id). The query's nProbe nearest cells resolve
    * driver-side and the postings scan prunes statically to those
    * cells' partitions. */
  final class AnnSearchProcedure(catalogName: String) extends UnboundProcedure {
    override def name(): String = "ann_search"
    override def description(): String =
      "cosine top-k over the persisted ANN index for an external query vector " +
        "(comma-separated doubles)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "ann_search"
      override def description(): String = AnnSearchProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build(),
        ProcedureParameter.in("query_vec", StringType).build(),
        ProcedureParameter.in("n_probe", LongType).build(),
        ProcedureParameter.in("k", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val qv = input.getUTF8String(1).toString.split(',').map(_.trim.toDouble)
        val rows = graft.sim.AnnIndex.searchVec(
          org.apache.spark.sql.SparkSession.active, catalogName,
          input.getUTF8String(0).toString, qv.toSeq,
          input.getLong(2).toInt, input.getLong(3).toInt).collect()
        val schema = new StructType()
          .add("vec_id", LongType, nullable = false)
          .add("sim", org.apache.spark.sql.types.DoubleType, nullable = false)
        Iterator(scanOf(schema, rows.toSeq.map(r =>
          InternalRow(r.getLong(0), r.getDouble(1))))).asJava
      }
    }
  }

  /** `CALL graftcat.create_text_index('<index root>', '<base path>',
    * buckets)` — build the persisted inverted text index at the base's
    * head ([[graft.text.TextIndex]]). Returns the indexed version. */
  final class CreateTextIndexProcedure(catalogName: String) extends UnboundProcedure {
    override def name(): String = "create_text_index"
    override def description(): String =
      "build the persisted inverted text index (bucketed BM25 postings) at the base table's head"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = "create_text_index"
      override def description(): String = CreateTextIndexProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build(),
        ProcedureParameter.in("base_path", StringType).build(),
        ProcedureParameter.in("buckets", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = graft.text.TextIndex.create(org.apache.spark.sql.SparkSession.active,
          catalogName, input.getUTF8String(0).toString,
          input.getUTF8String(1).toString, input.getLong(2).toInt).toLong
        val schema = new StructType().add("indexed_version", LongType, nullable = false)
        Iterator(scanOf(schema, Seq(InternalRow(v)))).asJava
      }
    }
  }

  /** `CALL graftcat.text_search('<index root>', 'term1,term2', k)` —
    * BM25 top-k over the persisted postings, the pure-SQL query
    * surface (bounded: k result rows come back through the procedure
    * scan). `mode`: "or" = q101's any-term scoring; "and" (r18,
    * `text_search_and`) = only docs containing EVERY term; "phrase"
    * (r18, `text_search_phrase`) = only docs containing the terms
    * adjacent and in order, via the positional postings. */
  final class TextSearchProcedure(catalogName: String, mode: String = "or")
      extends UnboundProcedure {
    private val procName = mode match {
      case "and" => "text_search_and"
      case "phrase" => "text_search_phrase"
      case _ => "text_search"
    }
    override def name(): String = procName
    override def description(): String =
      s"BM25 top-k $mode-mode lexical search over the persisted text index " +
        "(comma-separated query terms)"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = TextSearchProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] = Array(
        ProcedureParameter.in("index_root", StringType).build(),
        ProcedureParameter.in("terms", StringType).build(),
        ProcedureParameter.in("k", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val spark = org.apache.spark.sql.SparkSession.active
        val root = input.getUTF8String(0).toString
        val terms = input.getUTF8String(1).toString.split(',').map(_.trim).toSeq
        val k = input.getLong(2).toInt
        val rows = (mode match {
          case "and" => graft.text.TextIndex.searchAnd(spark, catalogName,
            root, terms, k)
          case "phrase" => graft.text.TextIndex.searchPhrase(spark, catalogName,
            root, terms, k)
          case _ => graft.text.TextIndex.search(spark, catalogName, root, terms, k)
        }).collect()
        val schema = new StructType()
          .add("doc_id", LongType, nullable = false)
          .add("bm25", org.apache.spark.sql.types.DoubleType, nullable = false)
        Iterator(scanOf(schema, rows.toSeq.map(r =>
          InternalRow(r.getLong(0), r.getDouble(1))))).asJava
      }
    }
  }

  object OptimizeProcedure extends UnboundProcedure {
    override def name(): String = "optimize"
    override def description(): String =
      "bin-pack small live files into ~target_bytes outputs as a new snapshot; " +
        "optional 3rd arg scopes to one partition subtree ('ts_day=2024-01-15')"
    // arity-dispatched bind (r14): the 2-arg whole-table form and the
    // 3-arg partition-scoped form share one procedure name, like
    // Iceberg's rewrite_data_files(..., where)
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      private val scoped = inputType.fields.length >= 3
      override def name(): String = "optimize"
      override def description(): String = OptimizeProcedure.description()
      override def parameters(): Array[ProcedureParameter] =
        if (scoped) Array(
          ProcedureParameter.in("path", StringType).build(),
          ProcedureParameter.in("target_bytes", LongType).build(),
          ProcedureParameter.in("scope", StringType).build())
        else Array(
          ProcedureParameter.in("path", StringType).build(),
          ProcedureParameter.in("target_bytes", LongType).build())
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val v = GraftCatalog.optimize(
          input.getUTF8String(0).toString, input.getLong(1),
          scope = if (scoped) input.getUTF8String(2).toString else "")
        val schema = new StructType().add("version", LongType, nullable = false)
        Iterator(scanOf(schema,
          Seq(InternalRow(v.map(_.toLong).getOrElse(-1L))))).asJava
      }
    }
  }
}
