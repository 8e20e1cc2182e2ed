package graft.plans

import graft.model.{Doc, InSpan}
import graft.parse.DocParser
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-operator extraction as a custom plan node — tier (c) of the
  * custom-operator ladder (compose built-ins > Expression > LogicalPlan +
  * Strategy + SparkPlan > mapPartitions). The physical node consumes the
  * input table's InternalRows DIRECTLY (no Doc/InSpan Encoder round-trip,
  * which would deserialize every span through `mapobjects`) and emits
  * output rows in one map, zero shuffles.
  *
  * Child contract: output columns (doc_id STRING, spans ARRAY<STRUCT<kind,
  * text, media_ref STRING, offset INT>>) in that order.
  */
final case class ExtractDocs(
    child: LogicalPlan,
    // constructor param so exprIds survive tree copies (LogicalRDD pattern)
    output: Seq[Attribute] = DataTypeUtils.toAttributes(ExtractDocs.schema))
  extends UnaryNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // The node has no expressions, so the default `references` is EMPTY and
  // ColumnPruning would prune the child scan to struct<> — the exec node then
  // reads field 0 of a zero-field row (SIGSEGV on a null-backed UnsafeRow).
  // Declare that we consume every child column.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ExtractDocs =
    copy(child = newChild)
}

object ExtractDocs {
  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("order", IntegerType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(spanType)),
    StructField("markdown", StringType),
    StructField("html", StringType),
    StructField("conf_pm", LongType, nullable = false)))

  /** Build the extraction DataFrame over an input table via the custom node.
    * Installs [[GraftExtensions]] on the session (idempotent).
    */
  def over(spark: SparkSession, inputPath: String): DataFrame = {
    GraftExtensions.install(spark)
    val child = spark.read.parquet(inputPath).select("doc_id", "spans")
    org.apache.spark.sql.GraftColumnBridge.ofRows(
      spark, ExtractDocs(org.apache.spark.sql.GraftColumnBridge.logicalPlan(child)))
  }
}

object ExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case e: ExtractDocs => ExtractDocsExec(e.output, planLater(e.child)) :: Nil
    case _ => Nil
  }
}

final case class ExtractDocsExec(output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  // the output attrs are CREATED here, not consumed from the child — without
  // this they'd count as missing references and mark the node invalid
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildInternal(newChild: SparkPlan): ExtractDocsExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = ExtractDocs.schema
    child.execute().mapPartitions { rows =>
      // physical operators must emit UnsafeRow (collect and exchanges cast
      // unchecked — a GenericInternalRow segfaults under JIT'd readers)
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      rows.map { row =>
        // manual decode — no Encoder machinery. The child contract is
        // non-null (doc_id, spans, span fields); violations fail with a
        // diagnosable message instead of an opaque NPE (ADVICE round 1).
        require(!row.isNullAt(0) && !row.isNullAt(1),
          "ExtractDocs child contract: doc_id and spans must be non-null")
        val docId = row.getUTF8String(0).toString
        val arr = row.getArray(1)
        val n = arr.numElements()
        val spans = new Array[InSpan](n)
        var i = 0
        while (i < n) {
          require(!arr.isNullAt(i),
            s"ExtractDocs child contract: null span element at $i (doc $docId)")
          val s = arr.getStruct(i, 4)
          require(!s.isNullAt(0) && !s.isNullAt(1) && !s.isNullAt(2) &&
              !s.isNullAt(3),
            s"ExtractDocs child contract: null span field at $i (doc $docId)")
          spans(i) = InSpan(
            s.getUTF8String(0).toString,
            s.getUTF8String(1).toString,
            s.getUTF8String(2).toString,
            s.getInt(3))
          i += 1
        }
        val e = DocParser.parseDoc(Doc(docId, spans.toIndexedSeq))
        // manual encode
        val outSpans = new Array[Any](e.spans.length)
        var j = 0
        e.spans.foreach { sp =>
          outSpans(j) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(sp.kind), UTF8String.fromString(sp.text),
            UTF8String.fromString(sp.media_ref), sp.order))
          j += 1
        }
        toUnsafe(new GenericInternalRow(Array[Any](
          UTF8String.fromString(e.doc_id), new GenericArrayData(outSpans),
          UTF8String.fromString(e.markdown),
          UTF8String.fromString(e.html),
          e.conf_pm))): InternalRow
      }
    }
  }
}
