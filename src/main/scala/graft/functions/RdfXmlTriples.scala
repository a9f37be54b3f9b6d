package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.rdf.{BNode, Iri, Lit, ParseError, ParserOptions, RdfXmlParser, Relabeler, TripleTerm}

/** The RDF/XML parse kernel as a Catalyst generator: one document `text` in,
  * its triple rows out (see [[RdfXmlTriples.Schema]]), with blank nodes
  * relabeled under the per-document `bnodePrefix` (P4) and relative IRIs
  * resolved against the per-document `baseIRI` — an expression, so a file
  * reader can derive it from the file path; it takes the place of
  * `opts.baseIRI` (a null base parses without one). Emitting
  * `InternalRow`s directly keeps the parse visible to the optimizer: no
  * typed-object (de)serialization around it, and the input projection is
  * pruned by Catalyst rather than by hand.
  *
  * A bad document — malformed, or a null `text` — becomes exactly one error
  * row (R28, reference `lib/ParseError.ts:7-12`), never a task failure.
  * Interpreted (`CodegenFallback`): the work per row is a whole document
  * parse, so generated glue code would buy nothing.
  */
case class RdfXmlTriples(text: Expression, bnodePrefix: Expression, baseIRI: Expression,
                         opts: ParserOptions)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(text, bnodePrefix, baseIRI)
  override def elementSchema: StructType = RdfXmlTriples.Schema
  override def prettyName: String = "rdfxml_triples"
  override def checkInputDataTypes(): TypeCheckResult =
    children.map(InputCheck.string(_, prettyName)).find(_.isFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val doc = text.eval(input)
    // a null lineage (e.g. null conv_id) relabels without a prefix rather
    // than failing the task
    val prefix = bnodePrefix.eval(input)
    val base = baseIRI.eval(input)
    RdfXmlTriples.rows(
      if (doc == null) null else doc.toString,
      if (prefix == null) "" else prefix.toString,
      opts.copy(baseIRI = if (base == null) "" else base.toString))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RdfXmlTriples =
    copy(text = c(0), bnodePrefix = c(1), baseIRI = c(2))
}

object RdfXmlTriples {
  /** Terms in canonical N-Triples text (`subj`/`pred`/`obj`), the object
    * decomposed for relational work (`obj_type` iri | bnode | literal |
    * triple; `lexical`/`datatype`/`lang` for literals), and `error` — set,
    * with every other column null and `obj_type` "error", on the one row of
    * a failed document. */
  val Schema: StructType = StructType(
    Seq("subj", "pred", "obj", "obj_type", "lexical", "datatype", "lang", "error")
      .map(StructField(_, StringType)))

  /** The single place a parsed document becomes rows; every parse surface
    * (the batch stage, a streamed stage, [[graft.sources.RdfXmlFiles]])
    * reaches it through the generator above.
    * Blank nodes are renumbered `{bnodePrefix}b0, b1, …` by
    * [[graft.rdf.Relabeler]], so labels stay isomorphic per document and
    * globally unique across documents. */
  def rows(text: String, bnodePrefix: String, opts: ParserOptions): Iterator[InternalRow] = {
    val parsed =
      if (text == null) Left(ParseError("Document text is null")) else RdfXmlParser.parse(text, opts)
    parsed match {
      case Left(e) =>
        Iterator.single(new GenericInternalRow(
          Array[Any](null, null, null, utf8("error"), null, null, null, utf8(e.message))))
      case Right(ts) =>
        val relabel = new Relabeler(bnodePrefix)
        ts.iterator.map { t0 =>
          val t = relabel(t0)
          val (oty, lex, dt, lang) = t.obj match {
            case Lit(l, d, la, _) => ("literal", l, d, la)
            case Iri(_)           => ("iri", null, null, null)
            case BNode(_)         => ("bnode", null, null, null)
            case TripleTerm(_)    => ("triple", null, null, null)
          }
          new GenericInternalRow(Array[Any](
            utf8(t.subj.ntriples), utf8(t.pred.ntriples), utf8(t.obj.ntriples),
            utf8(oty), utf8(lex), utf8(dt), utf8(lang), null))
        }
    }
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
}
