package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.RdfXmlTriples
import graft.rdf.ParserOptions

object ParseStage {

  /** P2: conversation reconstruction under stable (conv_id, turn_idx)
    * order. The window asserts density (turn_idx == row_number-1 within the
    * conversation ordered by turn_idx, ties broken by ts) — rows that
    * violate it surface in the `dense` flag rather than silently reordering.
    */
  def reconstructConversations(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    turns
      .withColumn("turn_rank", row_number().over(w) - 1)
      .withColumn("dense", col("turn_rank") === col("turn_idx"))
  }

  /** P3 + P4: the per-turn parse, one [[graft.functions.RdfXmlTriples]]
    * generator over `text` — output columns `conv_id, turn_idx` followed by
    * [[graft.functions.RdfXmlTriples.Schema]]. Blank nodes are relabeled
    * `_:{conv_id}_{turn_idx}_bN`: per-document isomorphism is preserved
    * while labels become globally unique, which is what lets downstream
    * stages treat triples as plain strings. A bad (or null) document becomes
    * one error row, never a task failure (R28).
    *
    * There is deliberately NO shuffle here: each turn is a self-contained
    * document, so parse scales embarrassingly with input splits, and
    * Catalyst prunes the scan to the three columns the generator reads
    * (SURVEY §4.2). Conversation-level ordering (P2) is a separate operator
    * for the consumers that need it. Batch and streaming frames alike.
    */
  def parseTurns(turns: DataFrame, opts: ParserOptions = ParserOptions()): DataFrame = {
    val prefix = concat(col("conv_id"), lit("_"), col("turn_idx"), lit("_"))
    turns.select(col("conv_id"), col("turn_idx"),
      column(RdfXmlTriples(expression(col("text")), expression(prefix),
        expression(lit(opts.baseIRI)), opts)))
  }

  /** Quad view: triples + the constant `graph` column from
    * `ParserOptions.defaultGraph` (reference `lib/RdfXmlParser.ts:761`;
    * custom default graph pinned at test:1189-1201). A literal column keeps
    * Catalyst free to constant-fold it, vs. threading a 4th term through
    * the parse kernel. */
  def parseQuads(turns: DataFrame, opts: ParserOptions = ParserOptions()): DataFrame =
    parseTurns(turns, opts)
      .withColumn("graph", if (opts.defaultGraph.isEmpty) lit(null: String) else lit(opts.defaultGraph))

  /** Parse only the RDF/XML turns of the synthesized transcripts (even
    * turn_idx carries the payloads; odd ones are prose for NER). The filter
    * sits on a base column, so it is pushed below everything else. */
  def parsedTranscripts(spark: SparkSession, sfDir: String): DataFrame =
    parseTurns(payloadTurns(spark, sfDir))

  /** [[parsedTranscripts]] through the quads surface — same payload-turn
    * selection, with the graph column from `opts.defaultGraph`. */
  def parsedQuadTranscripts(spark: SparkSession, sfDir: String,
                            opts: ParserOptions): DataFrame =
    parseQuads(payloadTurns(spark, sfDir), opts)

  /** The even-turn payload convention, pinned in exactly one place so the
    * triple and quad surfaces can never diverge. `Transcripts.payloadTurns`
    * IS `transcripts(...).filter(turn_idx % 2 = 0)` by construction
    * (structural turn parity, spec-pinned) — emitted directly so the parse
    * family never generates the prose turns it would discard, nor reads or
    * shuffles the raw text column they embed (r7 optimization). */
  private def payloadTurns(spark: SparkSession, sfDir: String): DataFrame =
    Transcripts.payloadTurns(spark, sfDir)
}
