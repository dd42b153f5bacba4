package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast,
  Expression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan,
  SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType,
  LongType, StringType}

import scala.jdk.CollectionConverters._

/** MATERIALIZED VIEWS as catalog DDL (r17 — the r16 verdict's top item):
  * the q208 change-feed delta fold and the q183 append-only MERGE fold,
  * hand-wired pipelines until now, become a DECLARED object —
  *
  * {{{
  *   CREATE MATERIALIZED VIEW graftcat.db.mv AS
  *     SELECT status, count(*) AS n, sum(key) AS s
  *     FROM graftcat.`/data/orders` WHERE key > 0 GROUP BY status
  *   CALL graftcat.refresh_mv('db.mv')       -- fold (last, head]
  *   SELECT * FROM graftcat.db.mv            -- reads the materialization
  *   SELECT * FROM graftcat.db.`mv#mvstate`  -- staleness row
  * }}}
  *
  * SHAPE: one definition file `<ns>/<name>.mv.json` (the body text, the
  * extracted fold plan, the last-folded base version) plus one BACKING
  * graft-jsondoc table `<ns>/<name>.mvdata/` holding the group keys,
  * the RAW additive aggregate state, and hidden counters (`__mv_rows` =
  * group multiplicity; `__mv_nn_<agg>` = non-null argument count per
  * SUM/AVG — the standard incremental-view-maintenance bookkeeping that
  * makes vanished groups and all-NULL sums render EXACTLY like a
  * recomputation). Reads of the MV name expand (in the same resolution
  * rule as plain views) into a rendering projection over the backing
  * table; the hidden columns never escape.
  *
  * INCREMENTALIZABLE bodies only, refused loudly otherwise: a single
  * `SELECT <group cols and aggregates> FROM <one graft table, or TWO
  * graft tables under an INNER equi join (r17 — the signed-delta
  * identity ΔV = ΔA ⋈ B@old + A@new ⋈ ΔB folds both feeds; SUM/COUNT/
  * AVG only there)> [WHERE <deterministic row predicate>]
  * [GROUP BY <plain columns>]`
  * with SUM / COUNT(*) / COUNT(col) / AVG / MIN / MAX aggregates — no
  * outer joins, subqueries, DISTINCT aggregates, FILTER clauses,
  * HAVING, windows, or computed group keys. SUM/COUNT/AVG fold signed deltas
  * (+1 per feed insert, -1 per delete) and therefore tolerate ANY DML
  * on the base; MIN/MAX fold least/greatest over appends, and a
  * refresh range containing deletes recomputes ONLY the affected
  * groups from the base at head (semi-join-pruned — the classic IVM
  * rescan for non-distributive aggregates, per group instead of per
  * view) while every untouched group still folds incrementally; both
  * land in the same single MERGE commit ([[mixedDeltaSql]]).
  *
  * EXACTLY-ONCE refresh with no crash window: the fold MERGE commits
  * with the q183 manifest-transaction ledger ([[GraftTxn]]) — the
  * applier declares `(appId = graft-mv-ddl:<name>, version = head)`
  * before the MERGE and the backing table's OWN commit records it
  * atomically, so the authoritative last-folded version is
  * `max(definition file, ledger)` and a crash between the MERGE commit
  * and the definition-file update can never double-fold. The
  * definition file is a display cache, updated after.
  *
  * 100 TB: a refresh reads the feed of `(last, head]` only — commits'
  * changed files, never the base — and MERGEs |changed groups| rows;
  * the backing table is an ordinary graft table, so clustering
  * (`CALL cluster`) bounds MERGE amplification exactly as measured for
  * q183 (PERF.md "r13: MV copy-on-write amplification"). Reference: the whole job of
  * /root/reference/task.ts (lines 85-190) is maintaining a derived
  * output from a source feed — this is that contract as DDL. */
private[graft] object GraftMv {
  val DefSuffix = ".mv.json"
  val DataSuffix = ".mvdata"
  val RowsCol = "__mv_rows"
  def nnCol(alias: String): String = s"__mv_nn_$alias"
  def appIdOf(name: String): String = s"graft-mv-ddl:$name"

  /** One stored group key: `src` = the base column grouped on, `stored`
    * = its column name in the backing table (the first visible alias,
    * or a hidden name when the body groups on a column it never
    * selects). EXPRESSION keys (r18 — `GROUP BY us DIV 86400000000`,
    * the time-bucketed rollup shape): `exprSql` holds the
    * qualifier-stripped deterministic scalar expression; the key is
    * computed ONCE per source row (fill, fold, and recompute all read
    * a source wrapped by [[keyedSrc]] that materializes it under the
    * SELECT alias) and from there behaves exactly like a plain column,
    * with `src == stored`. */
  final case class GroupSpec(src: String, stored: String, ddl: String,
      exprSql: Option[String] = None)

  /** One aggregate: `func` in count_star|count|sum|avg|min|max|
    * count_distinct. `rawDdl` is the backing column holding the
    * additive state under the OUTPUT alias. COUNT(DISTINCT col) (r18)
    * is two-level IVM state: a hidden sibling table
    * `<name>.mvdist_<alias>` holds (group keys, value, multiplicity)
    * folded with the same signed deltas, and the main backing column
    * holds the CURRENT distinct count, folded by the per-group number
    * of 0→live minus live→0 multiplicity transitions each refresh —
    * so reads stay single-table consistent and tolerate ANY DML.
    * `argDdl` = the distinct column's type (the dist table's value
    * column). */
  final case class AggSpec(alias: String, func: String, arg: Option[String],
      rawDdl: String, argDdl: Option[String] = None)

  /** Output order of the body's SELECT: ("g", group index, alias) or
    * ("a", agg index, alias). */
  final case class OutCol(kind: String, idx: Int, alias: String)

  /** A two-table INNER equi-join body (r17): `basePath2` is the
    * b-side table, `on` the (aCol, bCol) key pairs, `sides` maps every
    * OTHER referenced bare column name (groups, aggregate arguments,
    * WHERE references) to its side — those names are required unique
    * across the two schemas so the stored qualifier-stripped SQL
    * re-binds unambiguously. */
  final case class JoinSpec(basePath2: String, on: Seq[(String, String)],
      sides: Map[String, String])

  /** An N-table (≥3) INNER equi-join body (r18): the two-term signed-
    * delta identity telescopes to N terms —
    *   ΔV = Σᵢ  S₀@new ⋈ … ⋈ Sᵢ₋₁@new ⋈ ΔSᵢ ⋈ Sᵢ₊₁@old ⋈ … ⋈ Sₙ₋₁@old
    * — each feed joined against the EARLIER sides at their new heads
    * and the LATER sides at the old watermarks, so every vanished or
    * born joined row is counted exactly once with its sign. `paths` =
    * sides 1..n−1 (side 0 is `MvDef.basePath`); `on` = equi pairs as
    * (sideA, colA, sideB, colB); `sides` maps every referenced bare
    * data column to its side index.
    *
    * WATERMARKS: n versions cannot ride one encoded ledger long, so
    * the ledger carries a refresh SEQUENCE number and the definition
    * file carries the watermark VECTOR — staged crash-safely: the
    * vector for seq s+1 is written as `pending` BEFORE the MERGE, and
    * the ledger's committed seq decides on replay whether the pending
    * vector is the folded truth (promote) or an aborted attempt
    * (discard). SUM/COUNT/AVG only (extrema keep the 2-table mixed
    * path; an N-sided delete recompute is future work). */
  final case class JoinNSpec(paths: Seq[String],
      on: Seq[(Int, String, Int, String)], sides: Map[String, Int],
      lastSeq: Long = 0L, lastVersions: Seq[Int] = Nil,
      createdVersions: Seq[Int] = Nil,
      pending: Option[(Long, Seq[Int])] = None)

  /** `createdVersion` is the base version the initial fill
    * materialized — IMMUTABLE after create, so a reader that pins the
    * backing table at a version predating any ledger entry still knows
    * the exact fold watermark of that snapshot (the stale-serving
    * rewrite's race-free anchor). -1 on definitions written before the
    * field existed. */
  final case class MvDef(sql: String, basePath: String,
      whereSql: Option[String], groups: Seq[GroupSpec], aggs: Seq[AggSpec],
      output: Seq[OutCol], lastVersion: Int,
      join: Option[JoinSpec] = None, lastVersion2: Int = 0,
      createdVersion: Int = -1, createdVersion2: Int = -1,
      joinN: Option[JoinNSpec] = None)

  private def q(n: String): String = "`" + n.replace("`", "``") + "`"

  /** The table path of an UNPINNED graft-jsondoc table, if `t` is one —
    * the only rewrite-eligible scan shape ([[graft.plans.RewriteOntoMv]]
    * lives outside this package; JsonDocTable itself is
    * package-private). Pinned (time-travel) reads never rewrite: the
    * MV state tracks the head, not an arbitrary snapshot. */
  private[graft] def unpinnedTablePath(
      t: org.apache.spark.sql.connector.catalog.Table): Option[String] = t match {
    case j: JsonDocTable if j.pinned.isEmpty => Some(j.tablePath)
    case _ => None
  }

  private def refuse(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "UNSUPPORTED_FEATURE.TABLE_OPERATION",
      messageParameters = Map("tableName" -> "materialized view",
        "operation" -> msg))

  // ---- body validation + fold-plan extraction --------------------------

  /** True while [[extract]] analyzes a CREATE MATERIALIZED VIEW body on
    * this thread — [[graft.plans.RewriteOntoMv]] must not fire there
    * (it would retarget a body matching an existing CURRENT view onto
    * that view's backing table and poison the new definition). */
  private[graft] val extracting = new scala.util.DynamicVariable(false)

  /** Analyze `bodySql` (unqualified names pinned to the CURRENT
    * catalog/namespace, the view-creation contract) and extract the
    * fold plan, refusing every non-incrementalizable shape with the
    * reason. */
  def extract(session: SparkSession, bodySql: String): MvDef =
    extracting.withValue(true) { extract0(session, bodySql) }

  private def extract0(session: SparkSession, bodySql: String): MvDef = {
    val cm = session.sessionState.catalogManager
    val defCat = cm.currentCatalog.name()
    val defNs = cm.currentNamespace.toSeq
    def isCatalog(n: String): Boolean =
      try { cm.catalog(n); true } catch { case _: Exception => false }
    var parsed = session.sessionState.sqlParser.parsePlan(bodySql)
    parsed = parsed.transformUpWithSubqueries {
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
          // temp views keep owning bare names — they then refuse below
          // as non-graft bases, with the real reason instead of a
          // wrong-namespace not-found
          session.sessionState.catalog
            .getTempView(r.multipartIdentifier.head).isEmpty =>
        r.copy(multipartIdentifier = (defCat +: defNs) :+ r.multipartIdentifier.head)
      case r: UnresolvedRelation if r.multipartIdentifier.length == 2 &&
          // a 2-part name whose head IS a catalog (graftcat.`/path`)
          // is already fully qualified
          !isCatalog(r.multipartIdentifier.head) =>
        r.copy(multipartIdentifier = defCat +: r.multipartIdentifier)
    }
    val analyzed = session.sessionState.executePlan(parsed).analyzed
    val (groupExprs, aggExprs, child) = analyzed match {
      case Aggregate(g, a, c, _) => (g, a, c)
      case _ => refuse("the body must be a single aggregate " +
        "(SELECT <groups and aggregates> FROM <one graft table> [WHERE ...] " +
        "[GROUP BY ...]) — got a " + analyzed.nodeName + " plan; ORDER BY, " +
        "LIMIT, HAVING, set operations and joins are not incrementally foldable")
    }

    def stripAlias(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => stripAlias(c)
      case other => other
    }
    val (whereCond, rel) = stripAlias(child) match {
      case Filter(cond, c) => (Some(cond), stripAlias(c))
      case other => (None, other)
    }
    def graftPath(p: LogicalPlan, what: String): String = stripAlias(p) match {
      case r: DataSourceV2Relation => r.table match {
        case t: JsonDocTable if t.pinned.isEmpty => t.tablePath
        case _: JsonDocTable => refuse(s"$what may not be a time-travel " +
          "read — a pinned snapshot has no future to fold")
        case other => refuse(s"$what must be a graft-jsondoc table " +
          s"(its change feed drives the refresh); got ${other.getClass.getSimpleName}")
      }
      case other => refuse(s"$what must be exactly one graft-jsondoc table " +
        s"(got ${other.nodeName})")
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // (basePath, join-side info): a single table, a 2-table INNER equi
    // join — the signed-delta identity
    //   ΔV = ΔA ⋈ B@old  +  A@new ⋈ ΔB
    // — or (r18) an N-table (≥3) INNER equi join, where the identity
    // telescopes to N terms ([[JoinNSpec]]). MIN/MAX over joins folds
    // only on the 2-table path (the affected-group recompute).
    def flatJoins(p: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
      stripAlias(p) match {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join =>
          if (jn.joinType != org.apache.spark.sql.catalyst.plans.Inner)
            refuse(s"only INNER joins are incrementally foldable — got " +
              s"${jn.joinType.sql} (outer sides resurrect NULL-padded rows " +
              "when a match appears, which is not a signed fold)")
          val c = jn.condition.getOrElse(
            refuse("the join needs an ON condition of column equalities"))
          val (ls, lc) = flatJoins(jn.left)
          val (rs, rc) = flatJoins(jn.right)
          (ls ++ rs, lc ++ rc ++ conjuncts(c))
        case other => (Seq(other), Nil)
      }
    val (basePath, joinInfo, joinNInfo) = rel match {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if flatJoins(j)._1.length >= 3 =>
        val (sidePlans, allConds) = flatJoins(j)
        val sidePaths = sidePlans.zipWithIndex.map { case (p, i) =>
          new java.io.File(graftPath(p, s"join side $i")).getAbsolutePath }
        if (sidePaths.distinct.length != sidePaths.length)
          refuse("self-joins are not incrementally foldable " +
            "(one commit changes both sides at once)")
        val sideOutputs = sidePlans.map(_.outputSet)
        def sideOf(a: AttributeReference): Int =
          sideOutputs.indexWhere(_.contains(a))
        val onN = allConds.map {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
              x: AttributeReference, y: AttributeReference) =>
            val (sx, sy) = (sideOf(x), sideOf(y))
            if (sx < 0 || sy < 0 || sx == sy)
              refuse("each join conjunct must equate columns of two " +
                s"different sides: ${x.name} = ${y.name}")
            if (sx < sy) (sx, x.name, sy, y.name) else (sy, y.name, sx, x.name)
          case other => refuse("join conditions must be plain column " +
            s"equalities (non-equi predicates are not foldable): ${other.sql}")
        }
        // each side after the first must link to an EARLIER side — the
        // stored FROM re-binds left-deep, attaching each pair at its
        // later side
        (1 until sidePlans.length).foreach { i =>
          if (!onN.exists(p => p._3 == i))
            refuse(s"join side $i is not linked to an earlier side by a " +
              "column equality — reorder the joins left-deep")
        }
        (sidePaths.head, None,
          Some((JoinNSpec(sidePaths.tail, onN, Map.empty),
            sideOutputs, sidePlans.flatMap(_.output))))
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        if (j.joinType != org.apache.spark.sql.catalyst.plans.Inner)
          refuse(s"only INNER joins are incrementally foldable — got " +
            s"${j.joinType.sql} (outer sides resurrect NULL-padded rows " +
            "when a match appears, which is not a signed fold)")
        val cond = j.condition.getOrElse(
          refuse("the join needs an ON condition of column equalities"))
        val pA = graftPath(j.left, "the join's left side")
        val pB = graftPath(j.right, "the join's right side")
        if (pA == pB) refuse("self-joins are not incrementally foldable " +
          "(one commit changes both sides at once)")
        val leftIds = j.left.outputSet
        val rightIds = j.right.outputSet
        val on = conjuncts(cond).map {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
              x: AttributeReference, y: AttributeReference) =>
            if (leftIds.contains(x) && rightIds.contains(y)) (x.name, y.name)
            else if (leftIds.contains(y) && rightIds.contains(x)) (y.name, x.name)
            else refuse(s"each join conjunct must equate one column per side: " +
              (x.name + " = " + y.name))
          case other => refuse("join conditions must be plain column " +
            s"equalities (non-equi predicates are not foldable): ${other.sql}")
        }
        (pA, Some((JoinSpec(new java.io.File(pB).getAbsolutePath, on, Map.empty),
          leftIds, j.left.output ++ j.right.output)), None)
      case single => (graftPath(single, "the FROM clause"), None, None)
    }

    val whereSql = whereCond.map { c =>
      require(c.deterministic,
        "graft materialized view: the WHERE predicate must be deterministic " +
          s"(a nondeterministic filter folds differently every refresh): ${c.sql}")
      if (c.exists(_.isInstanceOf[PlanExpression[_]]))
        refuse("the WHERE predicate may not contain a subquery")
      if (c.exists(_.isInstanceOf[AggregateExpression]))
        refuse("the WHERE predicate may not aggregate")
      // strip qualifiers: the stored predicate re-binds against the
      // change-feed relation at refresh, where the base's name means
      // nothing
      c.transform {
        case a: AttributeReference => a.withQualifier(Seq.empty)
      }.sql
    }

    if (groupExprs.isEmpty)
      refuse("materialized views need at least one GROUP BY column — a " +
        "GLOBAL aggregate's empty-input row (COUNT(*) = 0) cannot be " +
        "represented by the group-delta fold")
    // each key is a plain column, or (r18) a deterministic scalar
    // EXPRESSION over base columns (time buckets and the like) — the
    // expression is computed per source row at fill/fold/recompute and
    // stored under its SELECT alias, so everything downstream folds it
    // exactly like a plain key
    groupExprs.foreach {
      case _: AttributeReference => ()
      case e =>
        if (!e.deterministic)
          refuse("an expression GROUP BY key must be deterministic " +
            s"(it folds differently every refresh otherwise): ${e.sql}")
        if (e.exists(_.isInstanceOf[PlanExpression[_]]))
          refuse(s"an expression GROUP BY key may not contain a subquery: ${e.sql}")
        if (e.exists(_.isInstanceOf[AggregateExpression]))
          refuse(s"a GROUP BY key may not aggregate: ${e.sql}")
        if (!JsonDocSource.supportedType(e.dataType))
          refuse(s"an expression GROUP BY key must produce a storable type " +
            s"(long/int/double/boolean/string) — ${e.sql} is " +
            e.dataType.simpleString + "; cast or reformulate the bucket " +
            "(e.g. unix micros DIV 86400000000 instead of date_trunc)")
    }
    val groupAttrs = groupExprs.collect { case a: AttributeReference => a }
    val groupIds = groupAttrs.map(_.exprId).toSet
    // index of a SELECT item's expression among the group keys —
    // exprId identity for plain columns, semantic equality for
    // expression keys
    def keyIdxOf(e: Expression): Int = e match {
      case a: AttributeReference =>
        groupExprs.indexWhere {
          case g: AttributeReference => g.exprId == a.exprId
          case _ => false
        }
      case other => groupExprs.indexWhere {
        case _: AttributeReference => false
        case g => g.semanticEquals(other)
      }
    }

    def argAttr(e: Expression, fn: String): AttributeReference = e match {
      case a: AttributeReference => a
      // an EXPLICIT cast must refuse, not silently strip (r17
      // self-review): folding SUM(CAST(x AS BIGINT)) as SUM(x) changes
      // both values and result type
      case other => refuse(s"$fn arguments must be plain base columns " +
        s"(fold state is per-column; casts and expressions are not yet " +
        s"foldable): ${other.sql}")
    }
    def numeric(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | DoubleType => true
      case _ => false
    }

    val aggsB = scala.collection.mutable.ArrayBuffer.empty[AggSpec]
    val outB = scala.collection.mutable.ArrayBuffer.empty[OutCol]
    // group index in groupExprs order; visible alias filled from the
    // first SELECT item that exposes the key
    val visibleAlias = scala.collection.mutable.Map.empty[Int, String]

    aggExprs.foreach {
      case a: AttributeReference if groupIds(a.exprId) =>
        val i = keyIdxOf(a)
        visibleAlias.getOrElseUpdate(i, a.name)
        outB += OutCol("g", i, a.name)
      case al @ Alias(a: AttributeReference, _) if groupIds(a.exprId) =>
        val i = keyIdxOf(a)
        visibleAlias.getOrElseUpdate(i, al.name)
        outB += OutCol("g", i, al.name)
      case al @ Alias(e, _) if !e.isInstanceOf[AggregateExpression] &&
          !e.exists(_.isInstanceOf[AggregateExpression]) && keyIdxOf(e) >= 0 =>
        // a SELECTed expression key — its alias names the stored column
        val i = keyIdxOf(e)
        visibleAlias.getOrElseUpdate(i, al.name)
        outB += OutCol("g", i, al.name)
      case al @ Alias(ae: AggregateExpression, _) =>
        if (ae.isDistinct) ae.aggregateFunction match {
          // COUNT(DISTINCT col) folds via the two-level multiplicity
          // state (r18); every other DISTINCT aggregate still refuses
          case Count(Seq(_)) => ()
          case _ => refuse("DISTINCT aggregates other than " +
            "COUNT(DISTINCT col) are not incrementalizable — got " +
            al.child.sql)
        }
        if (ae.filter.nonEmpty) refuse("FILTER clauses on aggregates are " +
          s"not yet foldable: ${al.child.sql}")
        val spec = ae.aggregateFunction match {
          case Count(Seq(e)) if ae.isDistinct =>
            val a = argAttr(e, "COUNT(DISTINCT)")
            AggSpec(al.name, "count_distinct", Some(a.name), "BIGINT",
              Some(a.dataType.sql))
          // only a NON-NULL literal is COUNT(*); COUNT(NULL) is the
          // constant 0 and must refuse rather than misfold (r17)
          case Count(Seq(Literal(v, _))) if v != null =>
            AggSpec(al.name, "count_star", None, "BIGINT")
          case Count(Seq(e)) =>
            AggSpec(al.name, "count", Some(argAttr(e, "COUNT").name), "BIGINT")
          case Count(_) => refuse("multi-argument COUNT is not foldable")
          case s: Sum =>
            val a = argAttr(s.child, "SUM")
            if (!numeric(a.dataType)) refuse(s"SUM over ${a.dataType.simpleString} " +
              "is not foldable (numeric columns only)")
            AggSpec(al.name, "sum", Some(a.name),
              if (a.dataType == DoubleType) "DOUBLE" else "BIGINT")
          case av: Average =>
            val a = argAttr(av.child, "AVG")
            if (!numeric(a.dataType)) refuse(s"AVG over ${a.dataType.simpleString} " +
              "is not foldable (numeric columns only)")
            // integral raw sums stay BIGINT so the incremental fold is
            // exact; the render divides as DOUBLE
            AggSpec(al.name, "avg", Some(a.name),
              if (a.dataType == DoubleType) "DOUBLE" else "BIGINT")
          case m: Min =>
            val a = argAttr(m.child, "MIN")
            AggSpec(al.name, "min", Some(a.name), a.dataType.sql)
          case m: Max =>
            val a = argAttr(m.child, "MAX")
            AggSpec(al.name, "max", Some(a.name), a.dataType.sql)
          case other => refuse(s"aggregate ${other.prettyName} is not " +
            "incrementalizable — foldable aggregates: COUNT(*), COUNT(col), " +
            "SUM, AVG, MIN, MAX")
        }
        outB += OutCol("a", aggsB.length, al.name)
        aggsB += spec
      case other => refuse("every SELECT item must be a grouping column or " +
        s"an aggregate: ${other.sql}")
    }

    val srcColNames = rel match {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.output.map(_.name)
      case single => single.output.map(_.name)
    }
    val groups = groupExprs.zipWithIndex.map {
      case (a: AttributeReference, i) =>
        GroupSpec(a.name, visibleAlias.getOrElse(i, s"__mv_g_${a.name}"),
          a.dataType.sql)
      case (e, i) =>
        // expression keys need a SELECT alias (the stored column's name)
        // that cannot shadow a source column — [[keyedSrc]] projects
        // `src.*, <expr> AS <alias>` and a duplicate name would be
        // ambiguous in every downstream reference
        val alias = visibleAlias.getOrElse(i, refuse("an expression GROUP " +
          s"BY key must appear in the SELECT list with an alias: ${e.sql}"))
        if (srcColNames.exists(_.equalsIgnoreCase(alias)))
          refuse(s"the expression key's alias '$alias' collides with a " +
            "source column name — pick a fresh alias")
        if (joinInfo.isDefined || joinNInfo.isDefined)
          refuse("expression GROUP BY keys over a join body are not yet " +
            s"foldable: ${e.sql}")
        val stripped = e.transform {
          case a: AttributeReference => a.withQualifier(Seq.empty)
        }.sql
        GroupSpec(alias, alias, e.dataType.sql, Some(stripped))
    }
    if (aggsB.exists(_.func == "count_distinct") &&
        aggsB.exists(a => a.func == "min" || a.func == "max"))
      refuse("COUNT(DISTINCT) and MIN/MAX in one body are not jointly " +
        "foldable (a delete range would need both the affected-group " +
        "recompute and the multiplicity fold in one commit) — split " +
        "them into two views")
    val names = groups.map(_.stored) ++ aggsB.map(_.alias)
    require(names.distinct.length == names.length,
      "graft materialized view: output column names must be unique " +
        s"(they name the backing columns): ${names.mkString(", ")}")
    require(names.forall(n => !n.startsWith("__mv_") || n.startsWith("__mv_g_")),
      "graft materialized view: '__mv_' column names are reserved")
    val join = joinInfo.map { case (js0, leftIds, allOut) =>
      if (aggsB.exists(_.func == "count_distinct"))
        refuse("COUNT(DISTINCT) over a join body is not yet foldable — " +
          "use a single-table view")
      val whereNames = whereCond.toSeq.flatMap(_.references.map(_.name)).distinct
      val refNames = (groupAttrs.map(_.name) ++ aggsB.flatMap(_.arg) ++
        whereNames).distinct
      val sides = refNames.map { n =>
        val hits = allOut.filter(_.name == n)
        if (hits.length != 1)
          refuse(s"column '$n' is ambiguous across the join's two tables — " +
            "every selected, aggregated or filtered column must have a " +
            "side-unique name")
        n -> (if (leftIds.contains(hits.head)) "a" else "b")
      }.toMap
      js0.copy(sides = sides)
    }
    val joinN = joinNInfo.map { case (js0, sideOutputs, allOut) =>
      if (aggsB.exists(a => a.func == "min" || a.func == "max"))
        refuse("MIN/MAX over an N-table (3+) join body is not yet foldable " +
          "— the affected-group recompute covers 2-table joins only; " +
          "use SUM/COUNT/AVG or split the view")
      if (aggsB.exists(_.func == "count_distinct"))
        refuse("COUNT(DISTINCT) over a join body is not yet foldable — " +
          "use a single-table view")
      val whereNames = whereCond.toSeq.flatMap(_.references.map(_.name)).distinct
      val refNames = (groupAttrs.map(_.name) ++ aggsB.flatMap(_.arg) ++
        whereNames).distinct
      val sides = refNames.map { n =>
        val hits = allOut.filter(_.name == n)
        if (hits.length != 1)
          refuse(s"column '$n' is ambiguous across the join's tables — " +
            "every selected, aggregated or filtered column must have a " +
            "side-unique name")
        n -> sideOutputs.indexWhere(_.contains(hits.head))
      }.toMap
      js0.copy(sides = sides)
    }
    MvDef(bodySql, new java.io.File(basePath).getAbsolutePath, whereSql,
      groups.toSeq, aggsB.toSeq, outB.toSeq, lastVersion = 0, join = join,
      joinN = joinN)
  }

  // ---- SQL generation ---------------------------------------------------

  private def hasExprKeys(d: MvDef): Boolean = d.groups.exists(_.exprSql.isDefined)

  /** Wrap a source relation (a parenthesized subquery or a bare view
    * name) so every expression group key materializes under its stored
    * name — computed ONCE per row; every downstream reference then
    * treats it as a plain column. */
  private def keyedSrc(d: MvDef, rel: String): String = {
    val comp = d.groups.collect { case g if g.exprSql.isDefined =>
      s"(${g.exprSql.get}) AS ${q(g.stored)}" }
    s"(SELECT __gk.*, ${comp.mkString(", ")} FROM $rel __gk)"
  }

  private def hiddenDdl(d: MvDef): Seq[String] =
    Seq(s"${q(RowsCol)} BIGINT") ++
      d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
        s"${q(nnCol(a.alias))} BIGINT" }

  def backingDdl(d: MvDef): String =
    (d.groups.map(g => s"${q(g.stored)} ${g.ddl}") ++
      d.aggs.map(a => s"${q(a.alias)} ${a.rawDdl}") ++ hiddenDdl(d)).mkString(", ")

  /** Raw-state SELECT items over an INSERT-ONLY batch relation (the
    * initial materialization). */
  private def fillItems(d: MvDef): Seq[String] =
    d.groups.map(g => s"${q(g.src)} AS ${q(g.stored)}") ++
      d.aggs.map { a =>
        val arg = a.arg.map(q)
        a.func match {
          case "count_star" => s"COUNT(*) AS ${q(a.alias)}"
          case "count" => s"COUNT(${arg.get}) AS ${q(a.alias)}"
          case "count_distinct" => s"COUNT(DISTINCT ${arg.get}) AS ${q(a.alias)}"
          case "sum" | "avg" =>
            s"CAST(COALESCE(SUM(${arg.get}), 0) AS ${a.rawDdl}) AS ${q(a.alias)}"
          case "min" => s"MIN(${arg.get}) AS ${q(a.alias)}"
          case "max" => s"MAX(${arg.get}) AS ${q(a.alias)}"
        }
      } ++
      Seq(s"COUNT(*) AS ${q(RowsCol)}") ++
      d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
        s"COUNT(${q(a.arg.get)}) AS ${q(nnCol(a.alias))}" }

  def initialFillSql(cat: String, d: MvDef, backing: String, head: Int): String = {
    val where = d.whereSql.map(w => s" WHERE $w").getOrElse("")
    val grp = if (d.groups.isEmpty) ""
      else " GROUP BY " + d.groups.map(g => q(g.src)).mkString(", ")
    val src =
      if (!hasExprKeys(d)) s"$cat.`${d.basePath}` VERSION AS OF $head"
      else keyedSrc(d, s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $head)")
    s"INSERT INTO $cat.`$backing` SELECT ${fillItems(d).mkString(", ")} " +
      s"FROM $src$where$grp"
  }

  // ---- join bodies (r17): ΔV = ΔA ⋈ B@old + A@new ⋈ ΔB ------------------

  /** The joined source relation `(SELECT <refs> FROM <a> a JOIN <b> b
    * ON ...)` — every referenced column projected ONCE under its bare
    * name, so [[fillItems]], [[deltaSql]] and the stored WHERE run over
    * it completely unchanged; `extraProj` threads `_change_type`
    * through from whichever side is the delta. */
  def joinedSrcSql(d: MvDef, aRel: String, bRel: String,
      extraProj: Seq[String] = Nil): String = {
    val js = d.join.get
    val proj = js.sides.toSeq.sortBy(_._1).map { case (n, s) =>
      s"$s.${q(n)} AS ${q(n)}" } ++ extraProj
    val on = js.on.map { case (x, y) => s"a.${q(x)} = b.${q(y)}" }.mkString(" AND ")
    s"(SELECT ${proj.mkString(", ")} FROM $aRel a JOIN $bRel b ON $on)"
  }

  def initialFillJoinSql(cat: String, d: MvDef, backing: String,
      headA: Int, headB: Int): String = {
    val src = joinedSrcSql(d,
      s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $headA)",
      s"(SELECT * FROM $cat.`${d.join.get.basePath2}` VERSION AS OF $headB)")
    val where = d.whereSql.map(w => s" WHERE $w").getOrElse("")
    val grp = " GROUP BY " + d.groups.map(g => q(g.src)).mkString(", ")
    s"INSERT INTO $cat.`$backing` SELECT ${fillItems(d).mkString(", ")} " +
      s"FROM $src __j$where$grp"
  }

  // ---- N-table join bodies (r18): the telescoped N-term identity --------

  /** The joined source over N side relations, left-deep with aliases
    * s0..s{n−1}; every referenced data column projects ONCE under its
    * bare name (so [[fillItems]]/[[deltaSql]]/the stored WHERE run
    * unchanged), `extraProj` threads `_change_type` from the delta
    * side. Each ON pair attaches at its LATER side's join step. */
  def joinedSrcNSql(d: MvDef, rels: Seq[String],
      extraProj: Seq[String] = Nil): String = {
    val js = d.joinN.get
    val proj = js.sides.toSeq.sortBy(_._1).map { case (n, s) =>
      s"s$s.${q(n)} AS ${q(n)}" } ++ extraProj
    val from = rels.zipWithIndex.map { case (r, i) =>
      if (i == 0) s"$r s0"
      else {
        val ons = js.on.filter(p => p._3 == i).map { case (a, ca, b, cb) =>
          s"s$a.${q(ca)} = s$b.${q(cb)}" }
        require(ons.nonEmpty, s"join side $i has no attachable ON pair")
        s" JOIN $r s$i ON ${ons.mkString(" AND ")}"
      }
    }.mkString
    s"(SELECT ${proj.mkString(", ")} FROM $from)"
  }

  def initialFillJoinNSql(cat: String, d: MvDef, backing: String,
      heads: Seq[Int]): String = {
    val paths = d.basePath +: d.joinN.get.paths
    val src = joinedSrcNSql(d, paths.zip(heads).map { case (p, h) =>
      s"(SELECT * FROM $cat.`$p` VERSION AS OF $h)" })
    val where = d.whereSql.map(w => s" WHERE $w").getOrElse("")
    val grp = " GROUP BY " + d.groups.map(g => q(g.src)).mkString(", ")
    s"INSERT INTO $cat.`$backing` SELECT ${fillItems(d).mkString(", ")} " +
      s"FROM $src __j$where$grp"
  }

  /** The authoritative (seq, watermark vector) of an N-ary join MV:
    * the ledger's committed SEQUENCE decides whether the def file's
    * `pending` vector is folded truth (a crash landed the MERGE but
    * not the def promotion) or an aborted attempt. */
  def lastFoldedN(d: MvDef, dataDir: java.io.File,
      name: String): (Long, Seq[Int]) = {
    val js = d.joinN.get
    val ledgerSeq = JsonDocVersions.lastTxn(dataDir.getAbsolutePath,
      appIdOf(name)).getOrElse(0L)
    js.pending match {
      case Some((ps, pv)) if ps == ledgerSeq => (ps, pv)
      case _ if ledgerSeq > js.lastSeq =>
        // a committed fold whose vector was never staged — unreachable
        // under the pending-first protocol; refuse rather than misfold
        throw new IllegalStateException(s"graft materialized view $name: " +
          s"ledger seq $ledgerSeq has no staged watermark vector")
      case _ => (js.lastSeq, js.lastVersions)
    }
  }

  /** Fold an N-ary join body: for each side i whose head moved,
    *   term_i = S₀@h₀ ⋈ … ⋈ Sᵢ₋₁@hᵢ₋₁ ⋈ Δᵢ ⋈ Sᵢ₊₁@lᵢ₊₁ ⋈ … — the
    * telescoped identity; the union's signed group delta MERGEs in one
    * commit carrying seq = lastSeq + 1. */
  private def refreshJoinN(session: SparkSession, cat: String,
      defFile: java.io.File, dataDir: java.io.File, name: String,
      d: MvDef): (Int, Int) = {
    val js = d.joinN.get
    val paths = d.basePath +: js.paths
    val backing = dataDir.getAbsolutePath
    val (curSeq, lasts) = lastFoldedN(d, dataDir, name)
    val heads = paths.map(p => JsonDocVersions.latestVersion(p).getOrElse(0))
    if (heads.zip(lasts).forall { case (h, l) => h <= l })
      return (lasts.head + 1, lasts.head)
    val seq = curSeq + 1
    // stage the attempt's vector BEFORE the MERGE (crash-safe: the
    // ledger's committed seq adjudicates it on replay)
    write(defFile, d.copy(joinN = Some(js.copy(lastSeq = curSeq,
      lastVersions = lasts, pending = Some((seq, heads))))))
    val tag = s"graft_mv_${name.replaceAll("[^A-Za-z0-9_]", "_")}_n$seq"
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val terms = scala.collection.mutable.ArrayBuffer.empty[String]
      paths.indices.foreach { i =>
        // a term is non-empty only when side i moved AND every pinned
        // side has data at its pin
        val pins = paths.indices.map { j =>
          if (j < i) heads(j) else lasts(j) }
        if (heads(i) > lasts(i) &&
            paths.indices.forall(j => j == i || pins(j) > 0)) {
          val fv = s"${tag}_f$i"
          session.read.format("graft-jsondoc").option("readChanges", "true")
            .option("startingVersion", (lasts(i) + 1).toString)
            .option("endingVersion", heads(i).toString)
            .option("path", paths(i)).load().createOrReplaceTempView(fv)
          views += fv
          val rels = paths.indices.map { j =>
            if (j == i) fv
            else s"(SELECT * FROM $cat.`${paths(j)}` VERSION AS OF ${pins(j)})"
          }
          terms += joinedSrcNSql(d, rels,
            Seq(s"s$i.`_change_type` AS `_change_type`"))
        }
      }
      if (terms.isEmpty) {
        // heads moved but every term is empty (some side still empty):
        // advance the vector without a fold commit
        write(defFile, d.copy(joinN = Some(js.copy(lastSeq = curSeq,
          lastVersions = heads, pending = None))))
        return (lasts.head + 1, heads.head)
      }
      val u = s"${tag}_joined"
      session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $u AS " +
        terms.map(t => s"SELECT * FROM $t __t").mkString(" UNION ALL "))
      views += u
      val deltaView = s"${tag}_delta"
      session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $deltaView AS " +
        deltaSql(d, u))
      views += deltaView
      GraftTxn.begin(backing, appIdOf(name), seq)
      try session.sql(mergeSql(cat, backing, d, deltaView))
      finally GraftTxn.clear(backing)
    } finally views.reverse.foreach { v => session.catalog.dropTempView(v); () }
    write(defFile, d.copy(joinN = Some(js.copy(lastSeq = seq,
      lastVersions = heads, pending = None))))
    val moved = paths.indices.find(i => heads(i) > lasts(i)).getOrElse(0)
    (lasts(moved) + 1, heads(moved))
  }

  /** Both watermarks of a join MV ride ONE ledger value —
    * lexicographic in (a, b), so max() stays meaningful. 30 bits per
    * side bounds each base at ~10^9 commits. */
  private[graft] def encodeVersions(a: Int, b: Int): Long = {
    require(a >= 0 && b >= 0 && a < (1 << 30) && b < (1 << 30),
      s"graft materialized view: version out of ledger range: ($a, $b)")
    (a.toLong << 31) | b.toLong
  }

  /** The authoritative (lastA, lastB) of a join MV: ledger beats the
    * definition file when it is lexicographically ahead. */
  def lastFoldedPair(d: MvDef, dataDir: java.io.File, name: String): (Int, Int) = {
    val defPair = (d.lastVersion, d.lastVersion2)
    JsonDocVersions.lastTxn(dataDir.getAbsolutePath, appIdOf(name)).map { v =>
      val p = (((v >> 31) & 0x3fffffffL).toInt, (v & 0x7fffffffL).toInt)
      if (p._1 > defPair._1 || (p._1 == defPair._1 && p._2 > defPair._2)) p
      else defPair
    }.getOrElse(defPair)
  }

  /** SIGNED-delta SELECT over a change-feed relation (temp view
    * `feedView` carrying the data columns plus `_change_type`).
    * `feedKeyed` = the view already materializes the expression keys
    * (the mixed path pre-wraps it once for all its CTEs). */
  def deltaSql(d: MvDef, feedView0: String, feedKeyed: Boolean = false): String = {
    val feedView =
      if (hasExprKeys(d) && !feedKeyed) keyedSrc(d, feedView0) else feedView0
    val sign = "(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END)"
    val items =
      d.groups.map(g => s"${q(g.src)} AS ${q(g.stored)}") ++
        d.aggs.map { a =>
          val arg = a.arg.map(q)
          a.func match {
            case "count_star" => s"SUM($sign) AS ${q(a.alias)}"
            case "count" =>
              s"SUM(CASE WHEN ${arg.get} IS NULL THEN 0 ELSE $sign END) AS ${q(a.alias)}"
            // a placeholder: the per-group distinct-count delta comes
            // from the multiplicity transitions ([[dcntDeltaSql]]) and
            // is joined over this by [[withDistDeltasSql]]
            case "count_distinct" => s"CAST(0 AS BIGINT) AS ${q(a.alias)}"
            case "sum" | "avg" =>
              s"CAST(COALESCE(SUM(CASE WHEN ${arg.get} IS NULL THEN 0 " +
                s"ELSE $sign * ${arg.get} END), 0) AS ${a.rawDdl}) AS ${q(a.alias)}"
            case "min" => s"MIN(${arg.get}) AS ${q(a.alias)}"
            case "max" => s"MAX(${arg.get}) AS ${q(a.alias)}"
          }
        } ++
        Seq(s"SUM($sign) AS ${q(RowsCol)}") ++
        d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
          s"SUM(CASE WHEN ${q(a.arg.get)} IS NULL THEN 0 ELSE $sign END) " +
            s"AS ${q(nnCol(a.alias))}" }
    val where = d.whereSql.map(w => s" WHERE $w").getOrElse("")
    val grp = if (d.groups.isEmpty) ""
      else " GROUP BY " + d.groups.map(g => q(g.src)).mkString(", ")
    s"SELECT ${items.mkString(", ")} FROM $feedView$where$grp"
  }

  // ---- delete ranges under MIN/MAX: affected-group recompute -----------
  //
  // SUM/COUNT/AVG fold signed deltas and tolerate any DML, but a deleted
  // extremum cannot be un-folded from MIN/MAX state. The classic IVM
  // answer (rescan for non-distributive aggregates) applies PER GROUP:
  // only the groups a delete touched need recomputing; every other
  // group's feed rows are inserts and fold exactly as in the
  // append-only path. The refresh therefore splits the range into
  //   affected  = distinct group keys among WHERE-passing delete rows
  //   fold      = the signed delta over feed rows of UNtouched groups
  //   replace   = a full re-aggregation of the affected groups from the
  //               base AT head, semi-join-pruned to those keys (with
  //               key clustering this is file-skipping-tight: cost is
  //               O(affected groups' data), never the table)
  // and lands BOTH in ONE MERGE (one commit — the exactly-once ledger
  // is unchanged) whose actions dispatch on a `__mv_mode` column:
  // 'replace' overwrites the group's state, 'absent' deletes a group
  // whose last row vanished, 'fold' adds as before.

  val ModeCol = "__mv_mode"

  /** The mixed fold/recompute delta over a feed range containing
    * deletes: fold rows for untouched groups plus replace/absent rows
    * for every affected key, aligned on the backing schema + `ModeCol`. */
  /** `recomputeSrcOverride` (r18): the affected-group recompute source
    * for JOIN bodies — the joined pair of both bases pinned at their
    * heads, in place of the single base at `head`. */
  def mixedDeltaSql(cat: String, d: MvDef, feedView0: String, head: Int,
      recomputeSrcOverride: Option[String] = None): String = {
    // with expression keys, materialize them ONCE (feed and base-at-head
    // both) so every key reference below is a plain stored column
    val keyed = hasExprKeys(d)
    val feedView = if (keyed) "__mv_feed" else feedView0
    val keyCols = d.groups.map(g => q(g.stored))
    val aggCols = d.aggs.map(a => q(a.alias)) ++ Seq(q(RowsCol)) ++
      d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
        q(nnCol(a.alias)) }
    val whereAnd = d.whereSql.map(w => s" AND ($w)").getOrElse("")
    val affected = s"SELECT DISTINCT ${d.groups.map(g =>
      s"${q(g.src)} AS ${q(g.stored)}").mkString(", ")} FROM $feedView " +
      s"WHERE _change_type = 'delete'$whereAnd"
    // null-safe anti join: NULL group keys are real groups and must
    // route to the recompute side like any other affected key
    val antiOn = d.groups.map(g =>
      s"f.${q(g.src)} <=> a.${q(g.stored)}").mkString(" AND ")
    val untouched = s"SELECT f.* FROM $feedView f LEFT ANTI JOIN __mv_affected a ON $antiOn"
    val semiOn = d.groups.map(g =>
      s"b.${q(g.src)} <=> a.${q(g.stored)}").mkString(" AND ")
    val where = d.whereSql.map(w => s" WHERE $w").getOrElse("")
    val baseAtHead = recomputeSrcOverride.getOrElse(
      if (keyed) keyedSrc(d, s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $head)")
      else s"$cat.`${d.basePath}` VERSION AS OF $head")
    val recomputed =
      s"SELECT ${fillItems(d).mkString(", ")} FROM (SELECT b.* FROM " +
        s"$baseAtHead b " +
        s"LEFT SEMI JOIN __mv_affected a ON $semiOn)$where " +
        s"GROUP BY ${d.groups.map(g => q(g.src)).mkString(", ")}"
    val repOn = d.groups.map(g =>
      s"a.${q(g.stored)} <=> r.${q(g.stored)}").mkString(" AND ")
    val replaceRows =
      s"SELECT ${keyCols.map(c => s"a.$c").mkString(", ")}, " +
        s"${aggCols.map(c => s"r.$c").mkString(", ")}, " +
        s"CASE WHEN r.${q(RowsCol)} IS NULL THEN 'absent' ELSE 'replace' END " +
        s"AS ${q(ModeCol)} FROM __mv_affected a LEFT JOIN __mv_recomputed r ON $repOn"
    val allCols = (keyCols ++ aggCols).mkString(", ")
    val feedCte = if (keyed) s"__mv_feed AS (SELECT * FROM ${keyedSrc(d, feedView0)}),\n" else ""
    s"""WITH ${feedCte}__mv_affected AS ($affected),
       |__mv_untouched AS ($untouched),
       |__mv_recomputed AS ($recomputed)
       |SELECT $allCols, 'fold' AS ${q(ModeCol)} FROM (${deltaSql(d, "__mv_untouched", feedKeyed = true)})
       |UNION ALL
       |SELECT $allCols, ${q(ModeCol)} FROM ($replaceRows)""".stripMargin
  }

  /** The mixed MERGE: one statement, one commit. Replace rows overwrite
    * the group's state wholesale; absent rows delete it; fold rows add
    * exactly like [[mergeSql]]. */
  def mixedMergeSql(cat: String, backing: String, d: MvDef, deltaView: String): String = {
    val on = d.groups.map(g => s"t.${q(g.stored)} <=> d.${q(g.stored)}").mkString(" AND ")
    val folds = d.aggs.map { a =>
      a.func match {
        case "min" => s"${q(a.alias)} = least(t.${q(a.alias)}, d.${q(a.alias)})"
        case "max" => s"${q(a.alias)} = greatest(t.${q(a.alias)}, d.${q(a.alias)})"
        case _ => s"${q(a.alias)} = t.${q(a.alias)} + d.${q(a.alias)}"
      }
    } ++ Seq(s"${q(RowsCol)} = t.${q(RowsCol)} + d.${q(RowsCol)}") ++
      d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
        s"${q(nnCol(a.alias))} = t.${q(nnCol(a.alias))} + d.${q(nnCol(a.alias))}" }
    val cols = d.groups.map(g => q(g.stored)) ++ d.aggs.map(a => q(a.alias)) ++
      Seq(q(RowsCol)) ++ d.aggs.collect {
        case a if a.func == "sum" || a.func == "avg" => q(nnCol(a.alias)) }
    val sets = cols.drop(d.groups.length).map(c => s"$c = d.$c")
    s"""MERGE INTO $cat.`$backing` t USING $deltaView d ON $on
       |WHEN MATCHED AND d.${q(ModeCol)} = 'absent' THEN DELETE
       |WHEN MATCHED AND d.${q(ModeCol)} = 'replace' THEN
       |  UPDATE SET ${sets.mkString(", ")}
       |WHEN MATCHED AND d.${q(ModeCol)} = 'fold' AND t.${q(RowsCol)} + d.${q(RowsCol)} = 0 THEN DELETE
       |WHEN MATCHED AND d.${q(ModeCol)} = 'fold' THEN UPDATE SET ${folds.mkString(", ")}
       |WHEN NOT MATCHED AND (d.${q(ModeCol)} = 'replace' OR
       |    (d.${q(ModeCol)} = 'fold' AND d.${q(RowsCol)} <> 0)) THEN
       |  INSERT (${cols.mkString(", ")})
       |  VALUES (${cols.map(c => s"d.$c").mkString(", ")})""".stripMargin
  }

  def mergeSql(cat: String, backing: String, d: MvDef, deltaView: String): String = {
    // null-safe key equality: NULL group keys are real groups
    val on = if (d.groups.isEmpty) "true"
      else d.groups.map(g => s"t.${q(g.stored)} <=> d.${q(g.stored)}").mkString(" AND ")
    val adds = d.aggs.map { a =>
      a.func match {
        case "min" => s"${q(a.alias)} = least(t.${q(a.alias)}, d.${q(a.alias)})"
        case "max" => s"${q(a.alias)} = greatest(t.${q(a.alias)}, d.${q(a.alias)})"
        case _ => s"${q(a.alias)} = t.${q(a.alias)} + d.${q(a.alias)}"
      }
    } ++ Seq(s"${q(RowsCol)} = t.${q(RowsCol)} + d.${q(RowsCol)}") ++
      d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
        s"${q(nnCol(a.alias))} = t.${q(nnCol(a.alias))} + d.${q(nnCol(a.alias))}" }
    val cols = d.groups.map(g => q(g.stored)) ++ d.aggs.map(a => q(a.alias)) ++
      Seq(q(RowsCol)) ++ d.aggs.collect {
        case a if a.func == "sum" || a.func == "avg" => q(nnCol(a.alias)) }
    s"""MERGE INTO $cat.`$backing` t USING $deltaView d ON $on
       |WHEN MATCHED AND t.${q(RowsCol)} + d.${q(RowsCol)} = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${adds.mkString(", ")}
       |WHEN NOT MATCHED AND d.${q(RowsCol)} <> 0 THEN
       |  INSERT (${cols.mkString(", ")})
       |  VALUES (${cols.map(c => s"d.$c").mkString(", ")})""".stripMargin
  }

  // ---- COUNT(DISTINCT) two-level state (r18) ---------------------------
  //
  // Per distinct aggregate, a hidden sibling table `<name>.mvdist_<alias>`
  // holds one row per LIVE (group keys, value): `__mv_val` = the value,
  // `__mv_mult` = how many WHERE-passing base rows carry it. The signed
  // feed delta folds multiplicities exactly like the main fold; a value
  // whose multiplicity nets to zero is deleted. The main backing's
  // count column then folds by the number of TRANSITIONS —
  //   Δcount(group) = #values(0 → live)  −  #values(live → 0)
  // — computed by joining the delta against the dist state PINNED at a
  // known version: pre-merge normally, or post-merge when a crash
  // replay finds the dist fold already committed (pre-state is then
  // reconstructed as post − delta, so both paths are byte-identical).
  // Reads stay single-table: the rendered view never touches dist.

  val DistMarker = ".mvdist_"
  val DistValCol = "__mv_val"
  val DistMultCol = "__mv_mult"

  /** The dist table directory for `alias`, a sibling of the backing. */
  def distDirOf(dataDir: java.io.File, alias: String): java.io.File =
    new java.io.File(dataDir.getParentFile,
      dataDir.getName.stripSuffix(DataSuffix) + DistMarker + alias)

  def distDdl(d: MvDef, a: AggSpec): String =
    (d.groups.map(g => s"${q(g.stored)} ${g.ddl}") ++
      Seq(s"${q(DistValCol)} ${a.argDdl.get}", s"${q(DistMultCol)} BIGINT"))
      .mkString(", ")

  /** Initial fill of a dist table: live (group, value) multiplicities
    * of the base at `head` (NULL values never count). */
  def distFillSql(cat: String, d: MvDef, distPath: String, a: AggSpec,
      head: Int): String = {
    val src =
      if (!hasExprKeys(d)) s"$cat.`${d.basePath}` VERSION AS OF $head"
      else keyedSrc(d, s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $head)")
    val conds = d.whereSql.toSeq :+ s"${q(a.arg.get)} IS NOT NULL"
    s"INSERT INTO $cat.`$distPath` SELECT " +
      (d.groups.map(g => s"${q(g.src)} AS ${q(g.stored)}") ++
        Seq(s"${q(a.arg.get)} AS ${q(DistValCol)}",
          s"COUNT(*) AS ${q(DistMultCol)}")).mkString(", ") +
      s" FROM $src WHERE ${conds.map(c => s"($c)").mkString(" AND ")} " +
      s"GROUP BY ${(d.groups.map(g => q(g.src)) :+ q(a.arg.get)).mkString(", ")}"
  }

  /** The signed multiplicity delta of one distinct aggregate over the
    * feed. */
  def distDeltaSql(d: MvDef, feedView0: String, a: AggSpec): String = {
    val feedView =
      if (hasExprKeys(d)) keyedSrc(d, feedView0) else feedView0
    val sign = "(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END)"
    val conds = d.whereSql.toSeq :+ s"${q(a.arg.get)} IS NOT NULL"
    s"SELECT ${(d.groups.map(g => s"${q(g.src)} AS ${q(g.stored)}") ++
      Seq(s"${q(a.arg.get)} AS ${q(DistValCol)}",
        s"SUM($sign) AS ${q(DistMultCol)}")).mkString(", ")} " +
      s"FROM $feedView WHERE ${conds.map(c => s"($c)").mkString(" AND ")} " +
      s"GROUP BY ${(d.groups.map(g => q(g.src)) :+ q(a.arg.get)).mkString(", ")}"
  }

  def distMergeSql(cat: String, distPath: String, d: MvDef,
      deltaView: String): String = {
    val on = (d.groups.map(g => s"t.${q(g.stored)} <=> d.${q(g.stored)}") :+
      s"t.${q(DistValCol)} <=> d.${q(DistValCol)}").mkString(" AND ")
    val cols = d.groups.map(g => q(g.stored)) ++ Seq(q(DistValCol), q(DistMultCol))
    s"""MERGE INTO $cat.`$distPath` t USING $deltaView d ON $on
       |WHEN MATCHED AND t.${q(DistMultCol)} + d.${q(DistMultCol)} <= 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${q(DistMultCol)} =
       |  t.${q(DistMultCol)} + d.${q(DistMultCol)}
       |WHEN NOT MATCHED AND d.${q(DistMultCol)} > 0 THEN
       |  INSERT (${cols.mkString(", ")}) VALUES (${cols.map(c => s"d.$c").mkString(", ")})""".stripMargin
  }

  /** The per-group distinct-count delta from multiplicity transitions.
    * `distRel` is the dist state pinned at a known version; `post` =
    * that pin is AFTER the fold landed (crash replay), so the
    * pre-state is reconstructed as post − delta. */
  def dcntDeltaSql(d: MvDef, distDeltaView: String, distRel: String,
      post: Boolean): String = {
    val on = (d.groups.map(g => s"dd.${q(g.stored)} <=> t.${q(g.stored)}") :+
      s"dd.${q(DistValCol)} <=> t.${q(DistValCol)}").mkString(" AND ")
    val pre =
      if (post) s"(COALESCE(t.${q(DistMultCol)}, 0) - dd.${q(DistMultCol)})"
      else s"COALESCE(t.${q(DistMultCol)}, 0)"
    val after = s"($pre + dd.${q(DistMultCol)})"
    s"SELECT ${d.groups.map(g => s"dd.${q(g.stored)}").mkString(", ")}, " +
      s"SUM(CASE WHEN $pre <= 0 AND $after > 0 THEN 1 " +
      s"WHEN $pre > 0 AND $after <= 0 THEN -1 ELSE 0 END) AS __mv_dcnt " +
      s"FROM $distDeltaView dd LEFT JOIN $distRel t ON $on " +
      s"GROUP BY ${d.groups.map(g => s"dd.${q(g.stored)}").mkString(", ")}"
  }

  /** The main delta with every count_distinct placeholder replaced by
    * its transition delta (groups absent from a dcnt view fold 0). */
  def withDistDeltasSql(d: MvDef, baseDeltaView: String,
      dcntViews: Seq[(String, String)]): String = {
    val items =
      d.groups.map(g => s"b.${q(g.stored)}") ++
        d.aggs.map { a =>
          dcntViews.find(_._1 == a.alias) match {
            case Some((_, v)) =>
              s"CAST(COALESCE($v.__mv_dcnt, 0) AS BIGINT) AS ${q(a.alias)}"
            case None => s"b.${q(a.alias)}"
          }
        } ++
        Seq(s"b.${q(RowsCol)}") ++
        d.aggs.collect { case a if a.func == "sum" || a.func == "avg" =>
          s"b.${q(nnCol(a.alias))}" }
    val joins = dcntViews.map { case (_, v) =>
      val on = d.groups.map(g => s"b.${q(g.stored)} <=> $v.${q(g.stored)}")
        .mkString(" AND ")
      s" LEFT JOIN $v ON $on"
    }.mkString
    s"SELECT ${items.mkString(", ")} FROM $baseDeltaView b$joins"
  }

  /** The rendering projection a read of the MV name expands into: the
    * body's output columns in order, hidden counters folded into the
    * NULL semantics a recomputation would produce. */
  def renderSql(cat: String, backing: String, d: MvDef): String = {
    val items = d.output.map { o =>
      if (o.kind == "g") s"${q(d.groups(o.idx).stored)} AS ${q(o.alias)}"
      else {
        val a = d.aggs(o.idx)
        a.func match {
          case "sum" =>
            s"CASE WHEN ${q(nnCol(a.alias))} = 0 THEN CAST(NULL AS ${a.rawDdl}) " +
              s"ELSE ${q(a.alias)} END AS ${q(o.alias)}"
          case "avg" =>
            s"CASE WHEN ${q(nnCol(a.alias))} = 0 THEN CAST(NULL AS DOUBLE) " +
              s"ELSE CAST(${q(a.alias)} AS DOUBLE) / ${q(nnCol(a.alias))} END " +
              s"AS ${q(o.alias)}"
          case _ => s"${q(a.alias)} AS ${q(o.alias)}"
        }
      }
    }
    s"SELECT ${items.mkString(", ")} FROM $cat.`$backing`"
  }

  // ---- definition file --------------------------------------------------

  /** Bumped on every definition write/drop in this JVM — the
    * invalidation signal for the catalog's rewrite-candidate cache
    * ([[GraftCatalog.mvsOnBase]]). A driver-side cache, like Spark's
    * own catalog caches: DDL from ANOTHER process is picked up on this
    * process's next DDL, not instantly. */
  private[graft] val ddlEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  def write(f: java.io.File, d: MvDef): Unit = {
    ddlEpoch.incrementAndGet()
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("sql", d.sql)
    root.put("basePath", d.basePath)
    d.whereSql.foreach(root.put("where", _))
    val gs = root.putArray("groups")
    d.groups.foreach { g =>
      val n = gs.addObject(); n.put("src", g.src); n.put("stored", g.stored)
      n.put("ddl", g.ddl); g.exprSql.foreach(n.put("expr", _)); ()
    }
    val as = root.putArray("aggs")
    d.aggs.foreach { a =>
      val n = as.addObject(); n.put("alias", a.alias); n.put("func", a.func)
      a.arg.foreach(n.put("arg", _)); n.put("rawDdl", a.rawDdl)
      a.argDdl.foreach(n.put("argDdl", _)); ()
    }
    val os = root.putArray("output")
    d.output.foreach { o =>
      val n = os.addObject(); n.put("kind", o.kind); n.put("idx", o.idx)
      n.put("alias", o.alias); ()
    }
    root.put("lastVersion", d.lastVersion)
    root.put("createdVersion", d.createdVersion)
    root.put("createdVersion2", d.createdVersion2)
    d.join.foreach { js =>
      val j = root.putObject("join")
      j.put("basePath2", js.basePath2)
      val ons = j.putArray("on")
      js.on.foreach { case (x, y) => val n = ons.addArray(); n.add(x); n.add(y); () }
      val ss = j.putObject("sides")
      js.sides.toSeq.sortBy(_._1).foreach { case (k, v) => ss.put(k, v); () }
      root.put("lastVersion2", d.lastVersion2)
      ()
    }
    d.joinN.foreach { js =>
      val j = root.putObject("joinN")
      val ps = j.putArray("paths"); js.paths.foreach(ps.add)
      val ons = j.putArray("on")
      js.on.foreach { case (a, ca, b, cb) =>
        val n = ons.addArray(); n.add(a); n.add(ca); n.add(b); n.add(cb); () }
      val ss = j.putObject("sides")
      js.sides.toSeq.sortBy(_._1).foreach { case (k, v) => ss.put(k, v); () }
      j.put("lastSeq", js.lastSeq)
      val lv = j.putArray("lastVersions"); js.lastVersions.foreach(lv.add)
      val cv = j.putArray("createdVersions"); js.createdVersions.foreach(cv.add)
      js.pending.foreach { case (seq, vec) =>
        val p = j.putObject("pending")
        p.put("seq", seq)
        val pv = p.putArray("versions"); vec.foreach(pv.add); ()
      }
      ()
    }
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.tmp")
    java.nio.file.Files.writeString(tmp.toPath, mapper.writeValueAsString(root))
    try java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        if (f.exists()) f.delete()
        if (!tmp.renameTo(f))
          throw new java.io.IOException(s"materialized-view write failed for $f")
    }
  }

  def read(f: java.io.File): MvDef =
    parse(java.nio.file.Files.readString(f.toPath))

  /** Parse a definition from its JSON text — callers that fingerprint
    * the bytes (the catalog's rewrite-candidate cache) parse the SAME
    * content they hashed, closing the read-then-stat race. */
  def parse(json: String): MvDef = {
    val root = new ObjectMapper().readTree(json)
    MvDef(
      sql = root.get("sql").asText(),
      basePath = root.get("basePath").asText(),
      whereSql = Option(root.get("where")).map(_.asText()),
      groups = Option(root.get("groups")).toSeq.flatMap(_.elements().asScala.map(n =>
        GroupSpec(n.get("src").asText(), n.get("stored").asText(),
          n.get("ddl").asText(), Option(n.get("expr")).map(_.asText())))),
      aggs = Option(root.get("aggs")).toSeq.flatMap(_.elements().asScala.map(n =>
        AggSpec(n.get("alias").asText(), n.get("func").asText(),
          Option(n.get("arg")).map(_.asText()), n.get("rawDdl").asText(),
          Option(n.get("argDdl")).map(_.asText())))),
      output = Option(root.get("output")).toSeq.flatMap(_.elements().asScala.map(n =>
        OutCol(n.get("kind").asText(), n.get("idx").asInt(),
          n.get("alias").asText()))),
      lastVersion = root.get("lastVersion").asInt(),
      join = Option(root.get("join")).map { j =>
        JoinSpec(j.get("basePath2").asText(),
          j.get("on").elements().asScala.map(n =>
            (n.get(0).asText(), n.get(1).asText())).toSeq,
          Option(j.get("sides")).map(_.fields().asScala.map(e =>
            e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
      },
      lastVersion2 = Option(root.get("lastVersion2")).map(_.asInt()).getOrElse(0),
      createdVersion = Option(root.get("createdVersion")).map(_.asInt()).getOrElse(-1),
      createdVersion2 = Option(root.get("createdVersion2")).map(_.asInt()).getOrElse(-1),
      joinN = Option(root.get("joinN")).map { j =>
        JoinNSpec(
          paths = j.get("paths").elements().asScala.map(_.asText()).toSeq,
          on = j.get("on").elements().asScala.map(n =>
            (n.get(0).asInt(), n.get(1).asText(),
              n.get(2).asInt(), n.get(3).asText())).toSeq,
          sides = Option(j.get("sides")).map(_.fields().asScala.map(e =>
            e.getKey -> e.getValue.asInt()).toMap).getOrElse(Map.empty),
          lastSeq = Option(j.get("lastSeq")).map(_.asLong()).getOrElse(0L),
          lastVersions = Option(j.get("lastVersions")).toSeq.flatMap(
            _.elements().asScala.map(_.asInt())),
          createdVersions = Option(j.get("createdVersions")).toSeq.flatMap(
            _.elements().asScala.map(_.asInt())),
          pending = Option(j.get("pending")).map(p =>
            (p.get("seq").asLong(), p.get("versions").elements().asScala
              .map(_.asInt()).toSeq)))
      })
  }

  // ---- lifecycle ----------------------------------------------------------

  // same-JVM refresh serialization per definition file (the q183
  // one-logical-applier contract; cross-process double-refresh is
  // additionally guarded by the manifest ledger skip below)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(f: java.io.File): Object =
    locks.computeIfAbsent(f.getAbsolutePath, _ => new Object)

  /** CREATE: validate + extract, create the backing table, materialize
    * the CURRENT base snapshot (pinned — commits racing the fill are
    * folded by the next refresh, never half-seen), then publish the
    * definition file LAST so a crash mid-create leaves garbage a
    * re-CREATE sweeps, never a half-visible MV. */
  def create(session: SparkSession, cat: String, defFile: java.io.File,
      dataDir: java.io.File, bodySql: String): Unit = {
    val d = extract(session, bodySql)
    require(d.basePath != dataDir.getAbsolutePath &&
        !d.join.exists(_.basePath2 == dataDir.getAbsolutePath) &&
        !d.joinN.exists(_.paths.contains(dataDir.getAbsolutePath)),
      "graft materialized view: the body may not read the MV's own backing table")
    // a failed earlier CREATE leaves orphan backing/dist dirs (no def
    // file => invisible); sweep them so re-CREATE starts clean
    if (dataDir.isDirectory) deleteRecursively(dataDir)
    sweepDistDirs(dataDir)
    val head = JsonDocVersions.latestVersion(d.basePath).getOrElse(0)
    // MERGE-ON-READ backing (r17, the ANN index lesson of PERF.md
    // "AnnIndex refresh" applied here too): a refresh's changed groups spread across files, so a
    // copy-on-write MERGE would rewrite ~the whole view for any
    // non-local delta; MOR folds land as delete vectors + inserts in
    // O(changed groups), with OPTIMIZE as the periodic repayment
    session.sql(s"CREATE TABLE $cat.`${dataDir.getAbsolutePath}` " +
      s"(${backingDdl(d)}) USING `graft-jsondoc` " +
      "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read', " +
      "'write.autocompact.dvs' = '32')")
    d.join match {
      case _ if d.joinN.isDefined =>
        val js = d.joinN.get
        val paths = d.basePath +: js.paths
        val heads = paths.map(p => JsonDocVersions.latestVersion(p).getOrElse(0))
        if (heads.forall(_ > 0))
          session.sql(initialFillJoinNSql(cat, d, dataDir.getAbsolutePath, heads))
        write(defFile, d.copy(joinN = Some(js.copy(lastSeq = 0L,
          lastVersions = heads, createdVersions = heads))))
      case Some(js) =>
        val head2 = JsonDocVersions.latestVersion(js.basePath2).getOrElse(0)
        if (head > 0 && head2 > 0)
          session.sql(initialFillJoinSql(cat, d, dataDir.getAbsolutePath,
            head, head2))
        write(defFile, d.copy(lastVersion = head, lastVersion2 = head2,
          createdVersion = head, createdVersion2 = head2))
      case None =>
        d.aggs.filter(_.func == "count_distinct").foreach { a =>
          val dist = distDirOf(dataDir, a.alias)
          session.sql(s"CREATE TABLE $cat.`${dist.getAbsolutePath}` " +
            s"(${distDdl(d, a)}) USING `graft-jsondoc` " +
            "TBLPROPERTIES ('write.rowlevel.mode' = 'merge-on-read', " +
      "'write.autocompact.dvs' = '32')")
          if (head > 0)
            session.sql(distFillSql(cat, d, dist.getAbsolutePath, a, head))
        }
        if (head > 0)
          session.sql(initialFillSql(cat, d, dataDir.getAbsolutePath, head))
        write(defFile, d.copy(lastVersion = head, createdVersion = head))
    }
  }

  /** Every dist sibling of `dataDir` (by name prefix — the def may be
    * gone or unreadable when sweeping). */
  private def sweepDistDirs(dataDir: java.io.File): Unit = {
    val prefix = dataDir.getName.stripSuffix(DataSuffix) + DistMarker
    Option(dataDir.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach(deleteRecursively)
  }

  def drop(defFile: java.io.File, dataDir: java.io.File): Unit = {
    ddlEpoch.incrementAndGet()
    // definition first: the MV disappears atomically, the data dir is
    // then unreachable garbage even if its removal is interrupted
    if (defFile.isFile && !defFile.delete())
      throw new java.io.IOException(s"cannot delete $defFile")
    if (dataDir.isDirectory) deleteRecursively(dataDir)
    sweepDistDirs(dataDir)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      throw new java.io.IOException(s"cannot delete $f")
  }

  /** The fold watermark AS OF backing-manifest `version` — what the
    * pinned snapshot `backing VERSION AS OF version` holds: the
    * ledger's entry at that version, or (when no refresh had committed
    * by then) the create-time watermark. None for pre-createdVersion
    * definitions, where the pinned watermark is unknowable — the
    * stale-serving rewrite then simply never fires. */
  def lastFoldedAt(d: MvDef, dataDir: java.io.File, name: String,
      version: Int): Option[Int] =
    JsonDocVersions.readTxns(dataDir.getAbsolutePath, version)
      .get(appIdOf(name)).map(_.toInt)
      .orElse(if (d.createdVersion >= 0) Some(d.createdVersion) else None)

  /** The JOIN form of [[lastFoldedAt]]: both watermarks of the pinned
    * backing snapshot, decoding the encoded ledger value or falling
    * back to the immutable create-time pair. */
  def lastFoldedPairAt(d: MvDef, dataDir: java.io.File, name: String,
      version: Int): Option[(Int, Int)] =
    JsonDocVersions.readTxns(dataDir.getAbsolutePath, version)
      .get(appIdOf(name))
      .map(v => (((v >> 31) & 0x3fffffffL).toInt, (v & 0x7fffffffL).toInt))
      .orElse(if (d.createdVersion >= 0 && d.createdVersion2 >= 0)
        Some((d.createdVersion, d.createdVersion2)) else None)

  /** The authoritative last-folded version: the backing manifest's
    * transaction ledger wins over the definition file (the file is a
    * cache that may lag one crash behind). */
  def lastFolded(d: MvDef, dataDir: java.io.File, name: String): Int = {
    // a join MV's ledger value encodes BOTH watermarks — reading it as
    // one version would be garbage; callers must use lastFoldedPair
    require(d.join.isEmpty && d.joinN.isEmpty,
      s"graft materialized view $name: lastFolded is single-table only")
    math.max(d.lastVersion,
      JsonDocVersions.lastTxn(dataDir.getAbsolutePath, appIdOf(name))
        .map(_.toInt).getOrElse(-1))
  }

  /** Driver-side "does this feed window contain any delete?" (r19,
    * guide §5): the change feed's per-partition kinds are pure
    * manifest/DV arithmetic on the driver (JsonDocChanges.commitParts),
    * so planning the window's partitions and looking for a delete kind
    * replaces the previous FULL EXECUTOR SCAN of the feed
    * (`!feed.filter(_change_type === 'delete').isEmpty` — one extra job
    * per MIN/MAX refresh, reading the whole window when no delete
    * exists). Conservative in the safe direction only: a delete-kind
    * partition may emit zero rows (an eq-delete set matching nothing),
    * and with zero actual delete rows the mixed path recomputes the
    * affected groups to exactly the pure fold's values; a feed with ANY
    * delete row always has a delete-kind partition, so the probe can
    * never miss one. Failure modes match the scan's: the same retention
    * guard and unreadable-manifest errors fire from the same planning
    * arithmetic. */
  private def feedHasDeleteKind(path: String, from: Int, to: Int): Boolean =
    JsonDocChanges.partsBetween(path,
      JsonDocChanges.publishedVersions(path), from, to)
      .exists(_.asInstanceOf[JsonDocChangesPartition].changeType == "delete")

  /** Fold `(last, head]` from the base's change feed. Returns
    * (from, to) of the folded range; from > to means the view was
    * already current. */
  def refresh(session: SparkSession, cat: String, defFile: java.io.File,
      dataDir: java.io.File, name: String): (Int, Int) = lockFor(defFile).synchronized {
    val d = read(defFile)
    if (d.joinN.isDefined)
      return refreshJoinN(session, cat, defFile, dataDir, name, d)
    if (d.join.isDefined)
      return refreshJoin(session, cat, defFile, dataDir, name, d)
    val backing = dataDir.getAbsolutePath
    val last = lastFolded(d, dataDir, name)
    val head = JsonDocVersions.latestVersion(d.basePath).getOrElse(0)
    // already current: an EMPTY range (from > to), never mistakable for
    // a one-commit fold
    if (head <= last) return (last + 1, last)
    val distAggs0 = d.aggs.filter(_.func == "count_distinct")
    // crash adjudication (r18 review): a dist ledger AHEAD of the main
    // watermark marks a crashed refresh's window — the dist fold
    // committed but the main MERGE did not. Replay EXACTLY that range
    // first (transitions reconstruct post − delta against the
    // already-folded dist), then a second pass continues to the true
    // head; folding (last, head] in one go would re-apply the crashed
    // range's multiplicity deltas to dist a second time.
    val distLasts = distAggs0.map(a => JsonDocVersions.lastTxn(
      distDirOf(dataDir, a.alias).getAbsolutePath, appIdOf(name))
      .map(_.toInt).getOrElse(-1))
    val headEff = (head +: distLasts.filter(_ > last)).min
    // NOT cached (r19: tried and reverted) — the dist and main MERGEs
    // do re-execute this scan through their temp views, but each
    // reference is column-pruned to the view's own columns and the
    // commit-sized re-parse measured CHEAPER than a shared cache's
    // materialization (+2 jobs, par task-s on q240/q247; see
    // OPTIMIZATION_r19.md "rejected: refresh feed caches").
    val feed = session.read.format("graft-jsondoc")
      .option("readChanges", "true")
      .option("startingVersion", (last + 1).toString)
      .option("endingVersion", headEff.toString)
      .option("path", d.basePath).load()
    // a range containing deletes under MIN/MAX cannot fold those
    // groups' extrema back out of the state — recompute ONLY the
    // affected groups from the base at head (mixedDeltaSql) and fold
    // everything else as usual; SUM/COUNT/AVG-only views keep the pure
    // signed fold, which tolerates any DML without touching the base
    val mixed = d.aggs.exists(a => a.func == "min" || a.func == "max") &&
      feedHasDeleteKind(d.basePath, last + 1, headEff)
    val tag = s"graft_mv_${name.replaceAll("[^A-Za-z0-9_]", "_")}_$headEff"
    val feedView = s"${tag}_feed"
    val deltaView = s"${tag}_delta"
    val tempViews = scala.collection.mutable.ArrayBuffer(feedView, deltaView)
    feed.createOrReplaceTempView(feedView)
    try {
      // COUNT(DISTINCT) state first: fold each dist table's signed
      // multiplicity delta (its own idempotent ledger — a crash replay
      // skips it), and pin the TRANSITION deltas for the main fold
      // against the dist state at a known version: pre-merge normally
      // (the EMPTY relation when dist has no committed version yet —
      // an unpinned read would be evaluated post-merge and lose every
      // 0→live transition), post-merge on replay
      val dcnts = distAggs0.zipWithIndex.map { case (a, i) =>
        val dist = distDirOf(dataDir, a.alias).getAbsolutePath
        val dv = s"${tag}_dd_$i"
        session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $dv AS " +
          distDeltaSql(d, feedView, a))
        tempViews += dv
        val distFolded = distLasts(i) >= headEff
        val pin = JsonDocVersions.latestVersion(dist).getOrElse(0)
        val distRel =
          if (pin > 0) s"(SELECT * FROM $cat.`$dist` VERSION AS OF $pin)"
          else s"(SELECT * FROM $cat.`$dist` WHERE 1 = 0)"
        val dcv = s"${tag}_dc_$i"
        session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $dcv AS " +
          dcntDeltaSql(d, dv, distRel, post = distFolded))
        tempViews += dcv
        if (!distFolded) {
          GraftTxn.begin(dist, appIdOf(name), headEff.toLong)
          try session.sql(distMergeSql(cat, dist, d, dv))
          finally GraftTxn.clear(dist)
        }
        (a.alias, dcv)
      }
      if (crashAfterDistMerge.value)
        throw new IllegalStateException(
          "graft test seam: crash between the dist and main merges")
      session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $deltaView AS " +
        (if (mixed) mixedDeltaSql(cat, d, feedView, headEff)
         else if (dcnts.isEmpty) deltaSql(d, feedView)
         else withDistDeltasSql(d, s"(${deltaSql(d, feedView)})", dcnts)))
      // the (appId, head) pair rides the MERGE's own manifest commit —
      // the q183 exactly-once recipe: a replay after a crash between
      // the MERGE and the definition-file update sees lastTxn = head
      // and skips
      GraftTxn.begin(backing, appIdOf(name), headEff.toLong)
      try session.sql(
        if (mixed) mixedMergeSql(cat, backing, d, deltaView)
        else mergeSql(cat, backing, d, deltaView))
      finally GraftTxn.clear(backing)
    } finally {
      tempViews.reverse.foreach { v => session.catalog.dropTempView(v); () }
    }
    write(defFile, d.copy(lastVersion = headEff))
    if (headEff < head) {
      // the crashed range is re-adjudicated — continue to the true head
      refresh(session, cat, defFile, dataDir, name)
      ()
    }
    (last + 1, head)
  }

  /** Test seam: when set, [[refresh]] throws after the dist-table
    * merges land but before the main MERGE — the COUNT(DISTINCT)
    * crash window the replay adjudication exists for. */
  private[graft] val crashAfterDistMerge = new scala.util.DynamicVariable(false)

  /** CONTINUOUS refresh (r17): one micro-batch stream per base on its
    * change feed, each batch driving [[refresh]]. The batch CONTENT is
    * only a commit SIGNAL — the fold still reads `(last, head]` under
    * the manifest ledger, so a redelivered batch after a crash (or a
    * deleted checkpoint) re-folds NOTHING: exactly-once comes from the
    * fold, never from the stream. Join views get two signal streams,
    * one per base; [[refresh]]'s same-JVM lock serializes concurrent
    * signals. Returns the started queries (caller stops them). */
  def autoRefresh(session: SparkSession, cat: String, defFile: java.io.File,
      dataDir: java.io.File, name: String, checkpointRoot: String)
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val d = read(defFile)
    val bases = d.basePath +: (d.join.map(_.basePath2).toSeq ++
      d.joinN.toSeq.flatMap(_.paths))
    bases.zipWithIndex.map { case (base, i) =>
      session.readStream.format("graft-jsondoc")
        .option("readChanges", "true")
        .option("path", base).load()
        .writeStream
        .queryName(s"graft-mv-autorefresh-$name-$i")
        .option("checkpointLocation", s"$checkpointRoot/$i")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          refresh(session, cat, defFile, dataDir, name)
          ()
        }
        .start()
    }
  }

  /** Fold a JOIN body's two feeds:
    *   ΔV = ΔA ⋈ B@lastB  +  A@headA ⋈ ΔB
    * — the standard signed-delta identity (each side's delta joins the
    * OTHER side at a pinned snapshot: B before its own changes, A after
    * ΔA is accounted). Both terms project the referenced columns plus
    * `_change_type` under bare names, so the single-table [[deltaSql]]
    * computes the signed group deltas over their UNION verbatim, and
    * the MERGE and ledger are the single-table path's. At 100 TB each
    * term joins a commit-sized delta against a snapshot — with join-key
    * clustering the snapshot side is file-pruned to matching keys,
    * never re-scanned whole. Returns (lastA + 1, headA); the b-side
    * range rides the same fold. */
  private def refreshJoin(session: SparkSession, cat: String,
      defFile: java.io.File, dataDir: java.io.File, name: String,
      d: MvDef): (Int, Int) = {
    val js = d.join.get
    val backing = dataDir.getAbsolutePath
    val (lastA, lastB) = lastFoldedPair(d, dataDir, name)
    val headA = JsonDocVersions.latestVersion(d.basePath).getOrElse(0)
    val headB = JsonDocVersions.latestVersion(js.basePath2).getOrElse(0)
    if (headA <= lastA && headB <= lastB) return (lastA + 1, lastA)
    val tag = s"graft_mv_${name.replaceAll("[^A-Za-z0-9_]", "_")}_${headA}_$headB"
    val hasExtrema = d.aggs.exists(a => a.func == "min" || a.func == "max")
    var deletesSeen = false
    def feedView(path: String, from: Int, to: Int, v: String): String = {
      val df = session.read.format("graft-jsondoc").option("readChanges", "true")
        .option("startingVersion", from.toString)
        .option("endingVersion", to.toString)
        .option("path", path).load()
      if (hasExtrema && !deletesSeen)
        deletesSeen = feedHasDeleteKind(path, from, to)
      df.createOrReplaceTempView(v)
      v
    }
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val terms = scala.collection.mutable.ArrayBuffer.empty[String]
      if (headA > lastA && lastB > 0) {
        val fa = feedView(d.basePath, lastA + 1, headA, s"${tag}_fa")
        views += fa
        terms += joinedSrcSql(d, fa,
          s"(SELECT * FROM $cat.`${js.basePath2}` VERSION AS OF $lastB)",
          Seq("a.`_change_type` AS `_change_type`"))
      }
      if (headB > lastB && headA > 0) {
        val fb = feedView(js.basePath2, lastB + 1, headB, s"${tag}_fb")
        views += fb
        terms += joinedSrcSql(d,
          s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $headA)", fb,
          Seq("b.`_change_type` AS `_change_type`"))
      }
      if (terms.isEmpty) {
        // one side moved while the other is still empty: the join is
        // empty either way — advance the watermark, fold nothing
        write(defFile, d.copy(lastVersion = headA, lastVersion2 = headB))
        return (lastA + 1, headA)
      }
      val u = s"${tag}_joined"
      session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $u AS " +
        terms.map(t => s"SELECT * FROM $t __t").mkString(" UNION ALL "))
      views += u
      // extrema + deletes (r18): the q231 affected-group rescan
      // generalized to the join — groups that lost any joined pair
      // (a delete-marked row in EITHER term) recompute from
      // A@headA ⋈ B@headB, semi-join-pruned to those keys; every
      // untouched group's u rows are inserts and fold as usual
      val mixed = hasExtrema && deletesSeen
      val deltaView = s"${tag}_delta"
      session.sql(s"CREATE OR REPLACE TEMPORARY VIEW $deltaView AS " +
        (if (mixed) mixedDeltaSql(cat, d, u, headA, Some(joinedSrcSql(d,
          s"(SELECT * FROM $cat.`${d.basePath}` VERSION AS OF $headA)",
          s"(SELECT * FROM $cat.`${js.basePath2}` VERSION AS OF $headB)")))
         else deltaSql(d, u)))
      views += deltaView
      GraftTxn.begin(backing, appIdOf(name), encodeVersions(headA, headB))
      try session.sql(
        if (mixed) mixedMergeSql(cat, backing, d, deltaView)
        else mergeSql(cat, backing, d, deltaView))
      finally GraftTxn.clear(backing)
    } finally views.foreach { v => session.catalog.dropTempView(v); () }
    write(defFile, d.copy(lastVersion = headA, lastVersion2 = headB))
    // report a REAL range even for a b-side-only fold — from > to is
    // reserved for "already current" and must never describe a refresh
    // that MERGEd rows
    if (headA > lastA) (lastA + 1, headA) else (lastB + 1, headB)
  }
}

/** The `<mv>#mvstate` metadata table: ONE staleness row —
  * `(mv STRING, base_path STRING, last_folded_version BIGINT,
  *   base_head BIGINT, stale_commits BIGINT)` — computed driver-side at
  * scan planning from the definition file, the backing ledger (the
  * authoritative fold watermark) and the base's published head. A
  * monitoring query `SELECT stale_commits FROM db.\`mv#mvstate\`` is
  * the refresh trigger a scheduler polls. */
private[sources] class GraftMvStateTable(defFile: java.io.File,
    dataDir: java.io.File, mvName: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.types.{StructField, StructType}

  override def name(): String = s"graft-mv($mvName#mvstate)"
  override def schema(): StructType = GraftMvStateTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap):
      org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.Scan
        with org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = GraftMvStateTable.Schema
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val d = GraftMv.read(defFile)
        def row(base: String, last: Long): org.apache.spark.sql.catalyst.InternalRow = {
          val head = JsonDocVersions.latestVersion(base).getOrElse(0).toLong
          org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(mvName),
            org.apache.spark.unsafe.types.UTF8String.fromString(base),
            last, head, math.max(0L, head - last))
        }
        d.join match {
          // a join MV reports one staleness row PER BASE
          case _ if d.joinN.isDefined =>
            val (_, lasts) = GraftMv.lastFoldedN(d, dataDir, mvName)
            (d.basePath +: d.joinN.get.paths).zip(lasts).map {
              case (p, l) => row(p, l.toLong) }.toArray
          case Some(js) =>
            val (lastA, lastB) = GraftMv.lastFoldedPair(d, dataDir, mvName)
            Array(row(d.basePath, lastA.toLong), row(js.basePath2, lastB.toLong))
          case None =>
            Array(row(d.basePath, GraftMv.lastFolded(d, dataDir, mvName).toLong))
        }
      }
      override def description(): String = name()
    }
}

private[sources] object GraftMvStateTable {
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
  val Schema: StructType = StructType(Seq(
    StructField("mv", StringType, nullable = false),
    StructField("base_path", StringType, nullable = false),
    StructField("last_folded_version", LongType, nullable = false),
    StructField("base_head", LongType, nullable = false),
    StructField("stale_commits", LongType, nullable = false)))
}
