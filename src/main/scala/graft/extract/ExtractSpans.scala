package graft.extract

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Converters
import graft.model.{RdfTriple, ValidationError}

/** The span dispatch as a Catalyst generator (the shape of `explode`): one
  * call per doc over `(doc_id, spans)`, reading the span structs straight
  * from the `InternalRow` and emitting rows of the [[RdfTriple]] schema, or
  * of the [[ValidationError]] schema when `errors` is set. No `Doc`, `Span`
  * or `RdfTriple` object is built per row.
  *
  * The name span goes through the name converter, mapped kinds through
  * their [[FieldSpecs]] row, unmapped kinds emit nothing. A span's text is
  * decoded once, `media_ref` never. `kindAt`, `textAt` and `offsetAt` are
  * the span struct's field ordinals, resolved by name from the input
  * schema ([[Extraction]]). A row with a null `doc_id` or `spans` emits
  * nothing.
  *
  * Triples: the doc's `rdf:type` triple is emitted once when any span
  * emitted a triple (csv_to_rdf.py:283-284); all are deduplicated per doc
  * ([[DocTriples]]).
  *
  * Errors: each span's validation errors, with the converted full name of
  * the doc's first name span (like the reference's error rows), or the
  * single no-data row (csv_to_rdf.py:286-288) when no span emitted a
  * triple. */
case class ExtractSpans(docId: Expression, spans: Expression, kindAt: Int, textAt: Int,
                        offsetAt: Int, errors: Boolean)
    extends Generator with CodegenFallback {

  import ExtractSpans._

  override def children: Seq[Expression] = Seq(docId, spans)

  override def elementSchema: StructType = if (errors) errorSchema else tripleSchema

  override def prettyName: String = if (errors) "extract_errors" else "extract_triples"

  @transient private lazy val numFields =
    spans.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].length

  @transient private lazy val doc = new DocTriples(SpanProcessor.Groups)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val id = docId.eval(input).asInstanceOf[UTF8String]
    val arr = spans.eval(input).asInstanceOf[ArrayData]
    if (id == null || arr == null) return Iterator.empty
    val n = arr.numElements()

    // The first name span's text labels the child resources; its own
    // dispatch reuses the decoded string.
    var nameAt = -1
    var i = 0
    while (i < n && nameAt < 0) {
      if (NameKind == arr.getStruct(i, numFields).getUTF8String(kindAt)) nameAt = i
      i += 1
    }
    val originalName =
      if (nameAt < 0) "" else arr.getStruct(nameAt, numFields).getUTF8String(textAt).toString

    doc.reset(id)
    var errs: java.util.ArrayList[InternalRow] = null
    lazy val fullname =
      UTF8String.fromString(if (originalName.isEmpty) "" else Converters.convertPersonName(originalName).full)
    i = 0
    while (i < n) {
      val s = arr.getStruct(i, numFields)
      val kind = s.getUTF8String(kindAt)
      val spanErrors =
        if (i == nameAt) SpanProcessor.processName(doc, originalName)
        else if (NameKind == kind) SpanProcessor.processName(doc, s.getUTF8String(textAt).toString)
        else {
          val es = if (kind == null) null else byKind.get(kind)
          if (es == null) Nil
          else SpanProcessor.process(es, doc, s.getUTF8String(textAt).toString, s.getInt(offsetAt),
            originalName)
        }
      if (errors && spanErrors.nonEmpty) {
        if (errs == null) errs = new java.util.ArrayList[InternalRow]()
        val text = s.getUTF8String(textAt)
        spanErrors.foreach { e =>
          errs.add(new GenericInternalRow(Array[Any](id, fullname, kind, UTF8String.fromString(e), text)))
        }
      }
      i += 1
    }

    if (errors) {
      if (doc.size == 0) {
        if (errs == null) errs = new java.util.ArrayList[InternalRow]()
        errs.add(new GenericInternalRow(Array[Any](id, fullname, Empty, NoData, Empty)))
      }
      if (errs == null) Iterator.empty else errs.toArray(new Array[InternalRow](errs.size))
    } else {
      if (doc.size > 0) {
        doc.span(SpanProcessor.TypeGroup)
        doc.uri(doc.subject, SpanProcessor.RdfType, SpanProcessor.RecordClass)
      }
      Array.tabulate(doc.size)(doc.row)
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): ExtractSpans =
    copy(docId = newChildren(0), spans = newChildren(1))
}

object ExtractSpans {
  private val tripleSchema = Encoders.product[RdfTriple].schema
  private val errorSchema = Encoders.product[ValidationError].schema

  private val NameKind = UTF8String.fromString(FieldSpecs.NameKind)
  private val Empty = UTF8String.EMPTY_UTF8
  private val NoData = UTF8String.fromString("Ei tietoa henkilöstä")

  /** The mapped kinds, keyed by their encoded name. */
  private val byKind: java.util.HashMap[UTF8String, SpanProcessor.EncodedSpec] = {
    val m = new java.util.HashMap[UTF8String, SpanProcessor.EncodedSpec]()
    FieldSpecs.prisonerFields.foreach(s => m.put(UTF8String.fromString(s.kind), SpanProcessor.encoded(s)))
    m
  }
}
