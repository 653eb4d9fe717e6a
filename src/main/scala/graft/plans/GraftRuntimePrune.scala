package graft.plans

import graft.sources.{GraftRuntimePruneSpec, GraftScan}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, EvalMode, Expression, If, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

/** RUNTIME (join-driven) partition pruning for the SQL catalog — the
  * manifest-level analogue of Spark's dynamic partition pruning, wired
  * for the V1-bridged [[GraftScan]]:
  *
  * {{{
  *   SELECT ... FROM graft.db.fact f
  *   JOIN (SELECT k, ... FROM dim WHERE dim.attr = ...) d
  *     ON f.part_col = d.k          -- part_col = the fact's partition column
  * }}}
  *
  * keeps only the fact partitions whose values survive the dim's
  * filter — partitions the dim excludes are never listed or opened. At
  * 100 TB this is the difference between reading 5/25 partitions and
  * 25/25: the static pushdown path can't see the dim's keys at plan
  * time, and Spark's own DPP machinery (`SupportsRuntimeV2Filtering`)
  * only reaches `BatchScanExec` — a V1-bridged scan plans as
  * `RowDataSourceScanExec`, where a runtime filter would evaluate
  * per-row ABOVE the full scan. So the rule attaches the obligation to
  * the scan itself ([[GraftRuntimePruneSpec]]): at execution planning
  * the scan resolves the dim side's DISTINCT join keys driver-side
  * (dimension-key-count-sized — the side the planner broadcasts
  * anyway; Spark's own non-reuse DPP subquery makes the same trade)
  * and prunes the manifest, exactly the [[graft.operators
  * .PartitionedTable.readJoinPruned]] semantic, planner-driven.
  *
  * A scan may carry MULTIPLE obligations — the two-dim star (status
  * dim on one level of a multi-level generated fact, calendar dim on
  * the other, the reference's bronze status×date layout queried as a
  * star) attaches one per qualifying dim, and the scan INTERSECTS
  * their surviving partition sets at the manifest. Each obligation is
  * individually sound, so the conjunction is. Obligations compose from
  * two shapes: several equi-keys against ONE dim in a single join
  * condition, and NESTED joins — the walk from an upper join descends
  * through lower Inner/Semi/Outer joins on the side carrying the key
  * (the Spark DPP posture: the upper equi-join is null-rejecting on
  * the key, so rows the pruning drops could never survive it,
  * whatever the path join preserved).
  *
  * SOUNDNESS: pruning only ever drops partitions whose value cannot
  * equal any dim key — for an equi-join under INNER/LEFT-SEMI, such
  * fact rows cannot survive the join (null keys never match). The join
  * condition itself still evaluates in full above the scan, so an
  * over-wide value set only costs IO, never correctness; resolution
  * failure or an over-cap dim falls back to the unpruned scan.
  *
  * GUARDS (the Spark DPP posture): fires only when the join key IS the
  * fact scan's partition-column attribute (exprId-matched through the
  * fact side, so aliases/derivations never misbind), the dim side is
  * deterministic, carries a selective filter, and estimates small
  * (`spark.graft.runtimePruning.maxDimBytes`, default 256 MB — the dim
  * executes twice: once collected for pruning, once in the join).
  * `spark.graft.runtimePruning.enabled=false` disables the rewrite
  * (the A/B every pruning claim is tested against). Runs in the
  * user-provided batch — after pushdown built the scan it rewrites.
  */
case class GraftRuntimePrune() extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean = SparkSession.active.conf
    .getOption("spark.graft.runtimePruning.enabled")
    .forall(_.toBoolean)

  private def maxDimBytes: Long = SparkSession.active.conf
    .getOption("spark.graft.runtimePruning.maxDimBytes")
    .map(_.toLong).getOrElse(256L << 20)

  /** Share ONE cached execution of a stored dim between the pruning
    * collect and the join (default on). */
  private def reuseDim: Boolean = SparkSession.active.conf
    .getOption("spark.graft.runtimePruning.reuseDim")
    .forall(_.toBoolean)

  /** LRU bound on rule-created dim cache entries (per JVM): a long
    * session running many DISTINCT star queries would otherwise
    * accrete up to maxDimBytes per distinct dim filter literal in the
    * session CacheManager with no eviction. */
  private def maxCachedDims: Int = SparkSession.active.conf
    .getOption("spark.graft.runtimePruning.maxCachedDims")
    .map(_.toInt).getOrElse(8)

  /** The fact-side scan relation exporting attribute `a` as a
    * PRUNABLE column — its partition column, or (for a generated
    * table) any level's SOURCE column, the calendar-dim star shape —
    * not already carrying an obligation ON THAT COLUMN (a second dim on a DIFFERENT axis
    * appends; re-pruning the same axis is wasted IO). The returned
    * option is [[GraftRuntimePruneSpec.srcCol]]: None =
    * partition-keyed, Some = source-keyed.
    *
    * The walk from the join down to the scan admits ONLY
    * row-preserving-by-partition operators (the Spark DPP
    * `getFilterableTableScan` posture): Project, Filter, an
    * Aggregate whose grouping keys include `a` (pruning drops WHOLE
    * groups whose key cannot join — surviving groups keep every row,
    * so their aggregate values are untouched), and a JOIN descended on
    * the side carrying `a` when that side's rows pass through
    * key-intact (Inner/Cross either side, LeftSemi/LeftOuter left,
    * RightOuter right — rows the pruning drops either vanish below or
    * surface with a key that cannot match the null-rejecting equi-join
    * above; rows it keeps are untouched). Anything else on the path —
    * Limit, Offset, Sample, Window, Sort-with-limit — bails out: e.g.
    * `(SELECT * FROM fact LIMIT 100) f JOIN dim` must keep the SAME
    * 100-row prefix the unpruned scan feeds, and pruning under the
    * Limit would change which rows it keeps. */
  private def factScanOf(side: LogicalPlan, a: AttributeReference)
      : Option[(DataSourceV2ScanRelation, V1ScanWrapper, GraftScan,
        Option[String])] = {
    @scala.annotation.tailrec
    def walk(p: LogicalPlan): Option[DataSourceV2ScanRelation] = p match {
      case r @ DataSourceV2ScanRelation(_, w: V1ScanWrapper, _, _, _)
          if w.v1Scan.isInstanceOf[GraftScan] &&
            r.output.exists(_.exprId == a.exprId) =>
        Some(r)
      case pr: Project => walk(pr.child)
      case f: Filter => walk(f.child)
      case ag: Aggregate if ag.groupingExpressions.exists {
            case g: AttributeReference => g.exprId == a.exprId
            case _ => false
          } => walk(ag.child)
      case jn: Join =>
        val onLeft = jn.left.outputSet.exists(_.exprId == a.exprId)
        val admissible = jn.joinType match {
          case Inner | Cross => true
          case LeftSemi | LeftOuter => onLeft
          case RightOuter => !onLeft
          case _ => false
        }
        if (admissible) walk(if (onLeft) jn.left else jn.right) else None
      case _ => None
    }
    walk(side).flatMap { r =>
      val w = r.scan.asInstanceOf[V1ScanWrapper]
      val gs = w.v1Scan.asInstanceOf[GraftScan]
      val srcColOpt: Option[Option[String]] =
        if (gs.spec.partCol.contains(a.name)) Some(None)
        else {
          // generated table joined on a SOURCE column — one manifest-dir
          // metadata read at optimize time, only reached when a graft
          // scan matched the key's exprId. Any level's source column
          // qualifies (the status×year star shape).
          val spark = SparkSession.active
          val sourceCols: Set[String] =
            try graft.operators.PartitionedTable
              .generatedLevelsOf(spark, gs.spec.dir)
              .toSeq.flatten.map(_.srcCol).toSet
            catch { case scala.util.control.NonFatal(_) => Set.empty }
          if (sourceCols.contains(a.name)) Some(Some(a.name)) else None
        }
      srcColOpt.collect {
        // dedupe per axis: a second obligation must bring a NEW column
        case sc if !gs.runtimePrune.exists(_.srcCol == sc) => (r, w, gs, sc)
      }
    }
  }

  /** The Spark DPP bar for "worth pruning by": some filter in the dim
    * subtree that is likely selective. */
  private def hasSelectivePredicate(plan: LogicalPlan): Boolean =
    plan.exists {
      case f: Filter => isLikelySelective(f.condition)
      case _ => false
    }

  /** A dim whose leaves are all LOCAL relations is prunable without
    * the selectivity bar: its key set is already driver-materialized
    * (a literal key list / small fixture — the earlier optimizer
    * batches constant-fold any Filter over it away, so the bar could
    * never be met), and collecting it costs nothing. The selectivity
    * requirement exists to justify scanning a STORED dim twice. An
    * already-CACHED dim (ours from a prior obligation on the same
    * join, or the user's) is likewise exempt — its second read is the
    * in-memory columns, not the source. */
  private def allLocal(plan: LogicalPlan): Boolean =
    plan.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _: InMemoryRelation => true
      case _ => false
    }

  private def dimOk(dim: LogicalPlan): Boolean =
    dim.deterministic &&
      (hasSelectivePredicate(dim) || allLocal(dim)) &&
      dim.stats.sizeInBytes <= maxDimBytes

  /** Cast pairs (S → T) that are INJECTIVE — `{a : cast(a) = b}` holds
    * at most ONE element, the inverse cast of `b` — so a fact key
    * wrapped in such an implicit cast (the analyzer's type promotion:
    * a TIMESTAMP_NTZ fact column joined against a TIMESTAMP literal
    * dim is the everyday star shape) still prunes soundly: resolve the
    * dim keys through the GUARDED inverse ([[inverseKey]]) instead of
    * bailing out. Timestamp↔timestamp and LTZ-rendering pairs are only
    * injective under a FIXED-OFFSET session zone (a DST spring-forward
    * gap maps two distinct NTZ wall times to one instant; a fall-back
    * overlap renders two instants as one string) — under a DST zone
    * they stay un-prunable. Lossy numeric widenings (int→float,
    * long→double) are NOT here: two distinct keys can collapse onto
    * one float, and the collapsed partner would be wrongly pruned. */
  private def invertibleCast(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType,
      zone: Option[String]): Boolean = {
    import org.apache.spark.sql.types._
    lazy val fixedOffset: Boolean =
      try java.time.ZoneId.of(zone.getOrElse(conf.sessionLocalTimeZone))
        .normalized().getRules.isFixedOffset
      catch { case scala.util.control.NonFatal(_) => false }
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType, FloatType | DoubleType) => true
      case (IntegerType | FloatType, DoubleType) => true
      case (DateType, TimestampNTZType | TimestampType) => true
      case (TimestampNTZType, TimestampType) => fixedOffset
      case (TimestampType, TimestampNTZType) => fixedOffset
      case (ByteType | ShortType | IntegerType | LongType | BooleanType |
            DateType | TimestampNTZType, StringType) => true
      case (TimestampType, StringType) => fixedOffset
      case _ => false
    }
  }

  /** The guarded inverse of an injective cast: `try_cast(b AS S)`, kept
    * only when casting it forward again reproduces `b` exactly (a dim
    * key outside the cast's range — a timestamp with sub-day precision
    * against a DATE key, an out-of-range long against an INT key —
    * matches NOTHING, and the guard nulls it out instead of letting a
    * truncated inverse prune to the wrong partition). Null keys never
    * survive an equi-join, so a nulled-out entry only ever REMOVES a
    * dim value from the pruning set. */
  private def inverseKey(
      b: Expression,
      src: org.apache.spark.sql.types.DataType,
      tgt: org.apache.spark.sql.types.DataType,
      zone: Option[String]): Expression = {
    val z = zone.orElse(Some(conf.sessionLocalTimeZone))
    val inv = Cast(b, src, z, EvalMode.TRY)
    val fwd = Cast(inv, tgt, z, EvalMode.TRY)
    If(EqualTo(fwd, b), inv, Literal(null, src))
  }

  /** One oriented pruning candidate from one side of an equi-pair: the
    * fact key attribute (bare, or under an invertible implicit cast)
    * and the dim-side key expression to resolve values from. */
  private def orient(x: Expression, y: Expression)
      : Option[(AttributeReference, Expression)] = x match {
    case a: AttributeReference => Some((a, y))
    case c @ Cast(a: AttributeReference, t, zid, _)
        if invertibleCast(a.dataType, t, zid) =>
      Some((a, inverseKey(y, a.dataType, t, zid)))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDown {
      case j @ Join(_, _, joinType, Some(cond), _)
          if joinType == Inner || joinType == LeftSemi =>
        // every equi-pair is a pruning candidate in BOTH orientations
        // (the fact key may sit on either side of the EqualTo, bare or
        // under an invertible implicit cast). Fold left-to-right so a
        // second qualifying pair APPENDS its obligation to the scan
        // the first one rewrote — factScanOf re-walks the current
        // (possibly rewritten) side and dedupes per axis.
        val pairs = splitConjunctivePredicates(cond).flatMap {
          case EqualTo(l, r) => orient(l, r).toSeq ++ orient(r, l).toSeq
          case _ => Nil
        }
        pairs.foldLeft(j) { case (cur, (a, b)) =>
          val leftFact =
            if (a.references.subsetOf(cur.left.outputSet) &&
              b.references.subsetOf(cur.right.outputSet))
              factScanOf(cur.left, a).map((_, b, cur.right, true))
            else None
          // the symmetric fact-on-the-right case only for INNER (a
          // LEFT SEMI preserves left rows — pruning its left by dim
          // keys is the supported direction; keep it simple and
          // sound: fact-left for semi)
          val rightFact =
            if (joinType == Inner &&
              a.references.subsetOf(cur.right.outputSet) &&
              b.references.subsetOf(cur.left.outputSet))
              factScanOf(cur.right, a).map((_, b, cur.left, false))
            else None
          leftFact.orElse(rightFact) match {
            case Some(((rel, w, gs, srcCol), keyExpr: Expression, dim,
                factOnLeft)) if dimOk(dim) =>
              // Execute the STORED dim once, not twice: the
              // obligation's key-resolution collect and the join
              // itself both read the dim — route BOTH through one
              // cached InMemoryRelation (the collect materializes it,
              // the join reads it), so the 256 MB-cap worst case never
              // scans the dim's source twice. All-local or
              // already-cached dims skip the cache (their keys are
              // already materialized); any caching failure keeps the
              // original plan on both legs — reuse is an optimization,
              // never a dependency.
              val dimShared: LogicalPlan =
                if (allLocal(dim) || !reuseDim) dim
                else try org.apache.spark.sql.graft.Bridge
                  .cachedPlanOf(SparkSession.active, dim, maxCachedDims)
                  .getOrElse(dim)
                catch { case scala.util.control.NonFatal(_) => dim }
              val pruned = gs.copy(runtimePrune = gs.runtimePrune :+
                GraftRuntimePruneSpec(dimShared, keyExpr, srcCol))
              val newWrapper = new StatsV1ScanWrapper(V1ScanWrapper(
                pruned, w.handledFilters, w.pushedDownOperators))
              def rewrite(side: LogicalPlan): LogicalPlan =
                side.transformDown {
                  case r: DataSourceV2ScanRelation if r eq rel =>
                    r.copy(scan = newWrapper)
                }
              if (factOnLeft)
                cur.copy(left = rewrite(cur.left), right = dimShared)
              else cur.copy(left = dimShared, right = rewrite(cur.right))
            case _ => cur
          }
        }
    }
  }
}

object GraftRuntimePrune {
  /** Post-hoc installation (the [[GraftScanStats]] pattern — extension
    * hooks all run before pushdown builds the wrapper this rewrites);
    * idempotent. */
  def ensureInstalled(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[GraftRuntimePrune]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GraftRuntimePrune()
}
