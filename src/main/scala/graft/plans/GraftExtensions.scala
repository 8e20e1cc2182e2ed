package graft.plans

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.PredicateHelper

/** Pushes doc_id-only predicates through [[ExtractDocs]] down to its child.
  *
  * The node computes fresh output attributes, so Catalyst's own
  * PushDownPredicates cannot know any column passes through — but extraction
  * preserves doc_id verbatim (output doc_id == input doc_id), so a predicate
  * on the output doc_id is exactly a predicate on the input doc_id. Rewriting
  * it below the node lands it directly above the parquet relation, where
  * FileSourceStrategy turns it into PushedFilters + partition pruning:
  * "extract one doc of 10^12" becomes a pruned scan instead of a full parse.
  */
object PushDocIdFilterThroughExtract extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, e: ExtractDocs) if e.resolved =>
      (e.output.find(_.name == "doc_id"), e.child.output.find(_.name == "doc_id")) match {
        case (Some(outId), Some(inId)) =>
          val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
            p.deterministic && p.references.subsetOf(AttributeSet(outId)))
          if (push.isEmpty) f
          else {
            val rewritten = push
              .map(_.transform { case a: Attribute if a.exprId == outId.exprId => inId })
              .reduce(And)
            val extracted = e.withNewChildren(Seq(Filter(rewritten, e.child)))
            keep.reduceOption(And).map(Filter(_, extracted)).getOrElse(extracted)
          }
        case _ => f
      }
  }
}

/** Everything this library adds to a Spark session, in one table: the
  * extraction strategy, the doc_id pushdown rule and the SQL functions.
  * Two entry points read it — the class below for
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, and
  * [[GraftExtensions.install]] for a session built without that conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => ExtractStrategy)
    ext.injectOptimizerRule(_ => PushDocIdFilterThroughExtract)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn[E <: Expression](name: String, cls: Class[E])(
      build: Seq[Expression] => E): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val functions: Seq[FunctionDescription] = Seq(
    fn("fix_typos", classOf[FixTyposExpr])(e => FixTyposExpr(e.head)),
    fn("simhash64", classOf[SimHash64Expr])(e => SimHash64Expr(e.head)),
    fn("nfc_normalize", classOf[NfcNormalizeExpr])(e => NfcNormalizeExpr(e.head)),
    fn("fix_mojibake", classOf[FixMojibakeExpr])(e => FixMojibakeExpr(e.head)),
    fn("log_prob_micro", classOf[LogProbMicroExpr])(e =>
      LogProbMicroExpr(e(0), e(1), e(2))),
    fn("entropy_term_micro", classOf[EntropyTermMicroExpr])(e =>
      EntropyTermMicroExpr(e(0), e(1))),
    fn("cdc_chunks", classOf[CdcChunksExpr])(e => CdcChunksExpr(e.head, 6, 16, 256)))

  /** Installs the table on a running session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(ExtractStrategy))
      spark.experimental.extraStrategies = strategies :+ ExtractStrategy
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(PushDocIdFilterThroughExtract))
      spark.experimental.extraOptimizations = rules :+ PushDocIdFilterThroughExtract
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build) }
  }
}
