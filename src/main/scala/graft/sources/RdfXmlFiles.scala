package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions.{col, concat, lit, md5, replace}

import graft.functions.RdfXmlTriples
import graft.rdf.ParserOptions

/** RDF/XML files as triple rows — the reference's primary surface
  * (`textStream.pipe(new RdfXmlParser(...))`, reference
  * `lib/RdfXmlParser.ts:122-141`, R1/R2) over a directory of documents.
  *
  * One document per file. Spark's text source with `wholetext` reads each
  * file as one row, so a document is never split. Spark's file source does
  * the rest: listing that skips hidden paths (`_temporary/`, `.staging`),
  * packing files into partitions under the session's `spark.sql.files.*`
  * settings, Hadoop codecs by extension (`.gz`), `path` predicates pruning
  * files at listing, size statistics for broadcast planning, and for
  * [[stream]] the durable file log. The parse is the one
  * [[graft.functions.RdfXmlTriples]] generator every other surface uses.
  *
  * Columns: `path` (the file's URI as Spark's `_metadata.file_path` gives
  * it: `file:/…`, a space or `%` in a name percent-escaped), then
  * [[graft.functions.RdfXmlTriples.Schema]]; a malformed document becomes
  * one error row, never a task failure (R28). Blank nodes are prefixed with
  * the full 128-bit MD5 of `path` (a truncated prefix birthday-collides at
  * ~65k files, silently merging blank nodes across documents). A `{path}`
  * in `opts.baseIRI` is replaced by each file's path.
  */
object RdfXmlFiles {

  /** Read a directory (or glob, or single file) of RDF/XML documents. */
  def read(spark: SparkSession, path: String, opts: ParserOptions = ParserOptions()): DataFrame =
    triples(spark.read.option("wholetext", true).text(path), opts)

  /** `readStream` over a directory of RDF/XML documents: Spark's file
    * stream source (durable file log under the checkpoint, exactly-once
    * replay, `Trigger.AvailableNow`) feeding the same parse as [[read]].
    * `maxFilesPerTrigger` > 0 bounds files admitted per micro-batch. Files
    * are never skipped for their age: a file that arrives with an old
    * modification time is still read. */
  def stream(spark: SparkSession, path: String, opts: ParserOptions = ParserOptions(),
             maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.option("wholetext", true).option("maxFileAge", NoFileAgeLimit)
    if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    triples(reader.text(path), opts)
  }

  /** Far beyond any deployment's lifetime: Spark's default of 7 days would
    * silently skip a late-arriving file whose mtime is older than that. */
  private val NoFileAgeLimit = "36500d"

  private def triples(files: DataFrame, opts: ParserOptions): DataFrame = {
    val path = col("_metadata.file_path")
    val base =
      if (opts.baseIRI.contains("{path}")) replace(lit(opts.baseIRI), lit("{path}"), path)
      else lit(opts.baseIRI)
    files.select(path.as("path"), column(RdfXmlTriples(
      expression(col("value")), expression(concat(md5(path), lit("_"))), expression(base), opts)))
  }
}
