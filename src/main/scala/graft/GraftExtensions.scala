package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, AttributeSet, Cast, Concat, CreateNamedStruct, Divide, EqualTo, Expression, ExpressionInfo, GetStructField, GreaterThan, GreaterThanOrEqual, If, LessThan, LessThanOrEqual, Literal, NullsFirst, PosExplode, RowNumber, Size, SortOrder, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}
import graft.functions._

/** SparkSessionExtensions module: registers the engine's native
  * expressions as SQL functions and installs the fusion optimizer rules
  * and the small-sort query-stage rule ([[SmallSortSinglePartition]]) —
  * the supported way to ship custom Catalyst work in a library
  * (`spark.sql.extensions=graft.GraftExtensions`, or
  * `.withExtensions(new GraftExtensions)` at session build).
  *
  * After registration the whole native tier is reachable from pure SQL:
  * `SELECT array_jaccard(a, b)`, `word_shingles(text, 3)`,
  * `parse_cookies(c)`, `simhash16(words)`, `cosine_sim(x, y)`,
  * `minhash_bands(hashes, 64, 16, 42)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => JaccardFusion)
    ext.injectOptimizerRule(_ => TopKAggregateRewrite)
    // standard-SQL ANALYZE TABLE over manifest-lake catalogs (Spark has
    // no v2 ANALYZE path of its own — see GraftAnalyzeRule)
    ext.injectResolutionRule(_ => graft.sources.GraftAnalyzeRule)
    ext.injectQueryStagePrepRule(_ => SmallSortSinglePartition)
  }
}

object GraftExtensions {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getCanonicalName, name)

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }
  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("array_jaccard", info("array_jaccard", classOf[ArrayJaccard]),
      es => ArrayJaccard(es(0), es(1))),
    ("cosine_sim", info("cosine_sim", classOf[CosineSim]),
      es => CosineSim(es(0), es(1))),
    ("parse_cookies", info("parse_cookies", classOf[ParseCookies]),
      es => ParseCookies(es(0))),
    ("simhash16", info("simhash16", classOf[SimHash16]),
      es => SimHash16(es(0))),
    ("word_shingles", info("word_shingles", classOf[WordShingles]),
      es => WordShingles(es(0), intArg(es(1), "n"))),
    ("minhash_sig", info("minhash_sig", classOf[MinHashSig]),
      es => MinHashSig(es(0), intArg(es(1), "k"), longArg(es(2), "seed"))),
    ("minhash_bands", info("minhash_bands", classOf[MinHashBands]),
      es => MinHashBands(es(0), intArg(es(1), "k"), intArg(es(2), "bands"), longArg(es(3), "seed"))),
    ("hyperplane_bands", info("hyperplane_bands", classOf[HyperplaneBands]),
      es => HyperplaneBands(es(0), intArg(es(1), "planes"), intArg(es(2), "bands"), strArg(es(3), "tag"))),
    ("mean_byte", info("mean_byte", classOf[MeanByte]),
      es => MeanByte(es(0))),
    ("min_md5_hex", info("min_md5_hex", classOf[MinMd5Hex]),
      es => MinMd5Hex(es(0))),
    ("winnow_fingerprints", info("winnow_fingerprints", classOf[WinnowFingerprints]),
      es => WinnowFingerprints(es(0), intArg(es(1), "k"), intArg(es(2), "w"))),
    ("decode_image", info("decode_image", classOf[DecodeImage]),
      es => DecodeImage(es(0))),
    ("resize_image", info("resize_image", classOf[ResizeImage]),
      es => ResizeImage(es(0), intArg(es(1), "w"), intArg(es(2), "h"))),
    ("decode_audio", info("decode_audio", classOf[DecodeAudio]),
      es => DecodeAudio(es(0))),
    ("nfc_normalize", info("nfc_normalize", classOf[NfcNormalize]),
      es => NfcNormalize(es(0))),
    ("dot_long", info("dot_long", classOf[DotLong]),
      es => DotLong(es(0), es(1))),
    ("jl_project", info("jl_project", classOf[JlProject]),
      es => JlProject(es(0), intArg(es(1), "dOut"), intArg(es(2), "dIn"))))
}

/** Optimizer rule: rewrite the naive built-in Jaccard composition
  *
  *   size(array_intersect(a, b)) / size(array_distinct(concat(a, b)))
  *
  * (any cast placement) into the fused single-pass [[ArrayJaccard]] when
  * both sides are string arrays — users write the declarative form, the
  * engine runs the native one. The classic "recognize the idiom, swap the
  * physical computation" rewrite.
  *
  * Semantics preservation on the union==0 edge: when BOTH inputs are
  * empty the composed form divides zero by zero (whatever the session's
  * division semantics make of that — NaN, null, or an ANSI error), while
  * ArrayJaccard returns 0.0. The rewrite therefore emits a literal
  * `0.0 / 0.0` with the ORIGINAL divide's evalMode on that branch,
  * guarded by two O(1) size() checks (an empty union can only arise from
  * two empty arrays), so the rule never changes observable behavior —
  * the fused path runs on every non-degenerate row. (The branch must not
  * keep the original divide subtree: the rule runs to fixpoint and would
  * re-match its own guard branch forever.) */
/** Optimizer rule — the SURVEY §4 candidate (3): rewrite the per-group
  * top-k idiom
  *
  *   df.withColumn("rank", row_number().over(partitionBy(g).orderBy(s)))
  *     .filter($"rank" <= k)
  *
  * into a bounded aggregate + posexplode:
  *
  *   Aggregate(g, bounded_top_k_rows(struct(child.*), k, order))
  *     → Generate(posexplode)  → Project(fields..., rank = pos + 1)
  *
  * The window form costs Exchange(g) + full Sort(g, s) of every group
  * member (WindowGroupLimit prunes map-side to k per partition, but the
  * post-shuffle sort and window machinery remain); the aggregate form is
  * an ObjectHashAggregate whose buffer is a k-row heap — partial
  * aggregation ships ≤ k rows per (group × map task), final state is
  * O(groups × k), no Sort node at all. Output rows, values and column
  * ids are identical (the original attribute ids are re-aliased onto the
  * extracted struct fields, so downstream references never notice).
  *
  * Guardrails — the rewrite only fires when it is provably the same
  * query: exactly one window expression (a bare row_number), the filter
  * touches only the rank attribute with a literal bound 1 ≤ k ≤ 1000,
  * partition/order keys are plain attributes of the window child, and
  * the plan is a batch plan (streaming keeps Spark's native operators).
  * Everything else keeps the window form. */
object TopKAggregateRewrite extends Rule[LogicalPlan] {

  private val MaxK = 1000

  /** rank-bound k from the filter condition, if the condition is a pure
    * comparison of the rank attribute against an integral literal. */
  private def limitOf(cond: Expression, rank: Attribute): Option[Int] = {
    def isRank(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == rank.exprId
      case Cast(a: Attribute, _, _, _) => a.exprId == rank.exprId
      case _ => false
    }
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case Cast(Literal(v: Int, IntegerType), _, _, _) => Some(v.toLong)
      case _ => None
    }
    val bound: Option[Long] = cond match {
      case LessThanOrEqual(l, r) if isRank(l) => lit(r)
      case LessThan(l, r) if isRank(l) => lit(r).map(_ - 1)
      case GreaterThanOrEqual(l, r) if isRank(r) => lit(l)
      case GreaterThan(l, r) if isRank(r) => lit(l).map(_ - 1)
      case EqualTo(l, r) if isRank(l) && lit(r).contains(1L) => Some(1L)
      case EqualTo(l, r) if isRank(r) && lit(l).contains(1L) => Some(1L)
      case _ => None
    }
    bound.filter(kk => kk >= 1L && kk <= MaxK).map(_.toInt)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
          partSpec, orderSpec, wchild, _)) if !f.isStreaming =>
      // WindowGroupLimit (Spark's own map-side prune) may already sit
      // between the Window and its input; the aggregate form subsumes it
      val child = wchild match {
        case wgl: WindowGroupLimit => wgl.child
        case c => c
      }
      val rankAttr = alias.toAttribute
      val kOpt = limitOf(cond, rankAttr)
      val partAttrs = partSpec.collect { case a: AttributeReference => a }
      val orderAttrs = orderSpec.collect {
        case SortOrder(a: AttributeReference, _, _, _) => a
      }
      val childOut = child.output
      val shapeOk =
        kOpt.isDefined &&
        cond.references == AttributeSet(Seq(rankAttr)) &&
        partAttrs.length == partSpec.length &&
        orderAttrs.length == orderSpec.length && orderSpec.nonEmpty &&
        (partAttrs ++ orderAttrs).forall(a => childOut.exists(_.exprId == a.exprId)) &&
        childOut.map(_.exprId).distinct.length == childOut.length
      if (!shapeOk) f
      else {
        val k = kOpt.get
        val packed = CreateNamedStruct(childOut.zipWithIndex.flatMap {
          case (a, i) => Seq(Literal(s"c$i"), a)
        })
        val sortIdx = orderAttrs.map(a => childOut.indexWhere(_.exprId == a.exprId))
        val topk = BoundedTopKRows(packed, k,
          sortIdx,
          orderSpec.map(_.direction == org.apache.spark.sql.catalyst.expressions.Ascending),
          orderSpec.map(_.nullOrdering == NullsFirst))
        val groupAttrs = partAttrs.foldLeft(Seq.empty[AttributeReference]) {
          (acc, a) => if (acc.exists(_.exprId == a.exprId)) acc else acc :+ a
        }
        val topkAlias = Alias(topk.toAggregateExpression(), "__graft_topk")()
        val agg = Aggregate(groupAttrs, groupAttrs :+ topkAlias, child)
        val posAttr = AttributeReference("__graft_pos", IntegerType, nullable = false)()
        val rowAttr = AttributeReference("__graft_row", packed.dataType, nullable = false)()
        val gen = Generate(PosExplode(topkAlias.toAttribute),
          unrequiredChildIndex = Seq(groupAttrs.length),
          outer = false, qualifier = None,
          generatorOutput = Seq(posAttr, rowAttr), agg)
        // rebuild the ORIGINAL output ids: group keys pass through the
        // aggregate untouched; everything else extracts from the struct
        val projList = childOut.zipWithIndex.map { case (a, i) =>
          if (groupAttrs.exists(_.exprId == a.exprId)) a
          else Alias(GetStructField(rowAttr, i, Some(s"c$i")), a.name)(
            exprId = a.exprId, qualifier = a.qualifier)
        } :+ Alias(Add(posAttr, Literal(1)), rankAttr.name)(
          exprId = rankAttr.exprId, qualifier = rankAttr.qualifier)
        Project(projList, gen)
      }
  }
}

/** Query-stage preparation rule: a global sort over an input small
  * enough that AQE would coalesce its range shuffle into one partition
  * shuffles into that one partition directly, and so skips the job
  * `RangePartitioner` runs to sample its bounds, which recomputes the
  * sort's whole input (for q36, the events scan and the cookie parse).
  * On the benchmark's `query_mix` (seed 2, 4 cores) that is 3 of the 17
  * jobs a pass of the four short queries ran. `RangePartitioner`
  * samples only when it has more than one partition, and AQE already
  * runs such a shuffle's reduce side as one task, so the sort loses no
  * parallelism and keeps its output order.
  *
  * It rewrites a `ShuffleExchangeExec` with `RangePartitioning(n > 1)`
  * and origin `ENSURE_REQUIREMENTS` — the exchange only a global sort's
  * `OrderedDistribution` inserts; a user's `repartitionByRange` has
  * another origin and keeps its layout — into a `SinglePartition` one,
  * when:
  *  - AQE partition coalescing is on;
  *  - the exchange's input, by its logical plan's size estimate, fits
  *    the size AQE coalesces into one partition:
  *    `coalescePartitions.minPartitionSize` under `parallelismFirst`
  *    (the default), `advisoryPartitionSizeInBytes` otherwise.
  *
  * AQE applies the rule to the initial plan and again at each
  * re-optimization, so a sort over a finished stage decides on that
  * stage's runtime size. An estimate can under-count (a `Generate`
  * keeps its child's size), which would put a larger sort in one task;
  * no registered query slowed that way. */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val limit: Long =
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      plan.transformUp {
        case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
            if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
          e.copy(outputPartitioning = SinglePartition)
      }
    }
}

object JaccardFusion extends Rule[LogicalPlan] {

  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case other => other
  }

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case d @ Divide(num, den, _) =>
      (strip(num), strip(den)) match {
        case (Size(ArrayIntersect(a, b), _),
              Size(ArrayDistinct(Concat(Seq(a2, b2))), _))
            if a.semanticEquals(a2) && b.semanticEquals(b2)
              && isStringArray(a) && isStringArray(b) =>
          val bothEmpty = And(
            EqualTo(Size(a, legacySizeOfNull = false), Literal(0)),
            EqualTo(Size(b, legacySizeOfNull = false), Literal(0)))
          val zeroOverZero = d.withNewChildren(Seq(
            Cast(Literal(0), DoubleType), Cast(Literal(0), DoubleType)))
          If(bothEmpty, zeroOverZero, Cast(ArrayJaccard(a, b), DoubleType))
        case _ => d
      }
  }
}
