package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.SparkSuite
import graft.rdf.ParserOptions

class RdfXmlSourceSpec extends SparkSuite {

  private def writeCorpus(): String = {
    val dir = Files.createTempDirectory("graft_rdfxml_src")
    Files.writeString(dir.resolve("a.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/s1"><ex:p>v1</ex:p><ex:q rdf:resource="http://e.org/o"/></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("b.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description><ex:p>anon</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("bad.rdf"), "<not-closed")
    Files.writeString(dir.resolve("rel.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="frag"><ex:p>rel</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    dir.toString
  }

  test("rdfxml DSv2 source: triples, error rows, bnode uniqueness, path lineage") {
    val dir = writeCorpus()
    val df = RdfXmlFiles.read(spark, dir, ParserOptions(baseIRI = "http://base.org/"))
    val rows = df.collect()
    // a.rdf: 2 triples; b.rdf: 1 (bnode subj); bad.rdf: 1 error row; rel.rdf: 1.
    assert(rows.length == 5)
    val errors = rows.filter(_.getAs[String]("error") != null)
    assert(errors.length == 1 && errors.head.getAs[String]("path").endsWith("bad.rdf"))
    val ok = rows.filter(_.getAs[String]("error") == null)
    assert(ok.forall(_.getAs[String]("path").nonEmpty))
    // relative IRI resolved against the option baseIRI
    assert(ok.exists(_.getAs[String]("subj") == "<http://base.org/frag>"))
    // bnode label is prefixed by the full 128-bit path MD5 (collision-safe
    // across millions of files, unlike a truncated prefix)
    val bn = ok.filter(_.getAs[String]("subj").startsWith("_:"))
    assert(bn.length == 1 && bn.head.getAs[String]("subj").matches("_:[0-9a-f]{32}_b0"))
  }

  /** One document per object kind: typed and language-tagged literals, a
    * bnode object, and an RDF 1.2 triple term that itself holds a bnode. */
  private val kindsDoc =
    """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/" rdf:version="1.2">
      |<rdf:Description rdf:about="http://e.org/s">
      |  <ex:n rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">7</ex:n>
      |  <ex:label xml:lang="en">hello</ex:label>
      |  <ex:knows><rdf:Description><ex:name>anon</ex:name></rdf:Description></ex:knows>
      |  <ex:claims rdf:parseType="Triple">
      |    <rdf:Description rdf:nodeID="x"><ex:p rdf:resource="http://e.org/o"/></rdf:Description>
      |  </ex:claims>
      |</rdf:Description>
      |</rdf:RDF>""".stripMargin

  test("emitter parity: the rdfxml source and parseTurns decompose every object kind identically") {
    val dir = Files.createTempDirectory("graft_rdfxml_kinds")
    Files.writeString(dir.resolve("kinds.rdf"), kindsDoc)
    val cols = Seq("subj", "pred", "obj", "obj_type", "lexical", "datatype", "lang", "error")
    // rows with each document's bnode prefix stripped, in a stable order
    def rowsOf(df: org.apache.spark.sql.DataFrame, bnodePrefix: String): Seq[Seq[String]] =
      df.select(cols.map(col): _*).collect().toSeq
        .map(r => cols.indices.map(i => Option(r.getString(i)).map(_.replaceAll(bnodePrefix, "_:")).orNull))
        .sortBy(_.mkString("|"))
    val source = rowsOf(
      RdfXmlFiles.read(spark, dir.toString, ParserOptions(baseIRI = "http://base.org/")),
      "_:[0-9a-f]{32}_")
    import spark.implicits._
    val stage = rowsOf(
      graft.pipeline.ParseStage.parseTurns(Seq(("d", 0, kindsDoc)).toDF("conv_id", "turn_idx", "text"),
        graft.rdf.ParserOptions(baseIRI = "http://base.org/")),
      "_:d_0_")
    assert(source.map(_(3)).toSet == Set("literal", "bnode", "triple"), source)
    assert(source.exists(r => r(5) == "http://www.w3.org/2001/XMLSchema#integer" && r(4) == "7"), source)
    assert(source.exists(r => r(6) == "en" && r(4) == "hello"), source)
    assert(source.exists(r => r(3) == "triple" && r(2).startsWith("<<( _:b")), source)
    assert(source == stage)
  }

  test("rdfxml scan joined against a path list still returns exact results (runtime filter is semantics-free)") {
    val dir = writeCorpus()
    val df = RdfXmlFiles.read(spark, dir)
    import spark.implicits._
    val want = Seq("file:" + dir + "/a.rdf").toDF("path")
    val joined = df.join(broadcast(want), "path").select("subj", "pred", "obj").collect()
    assert(joined.length == 2) // exactly a.rdf's triples
  }

  test("rdfxml source skips hidden directories at every level (_temporary staging is invisible)") {
    val dir = Files.createTempDirectory("graft_rdfxml_hidden")
    def doc(about: String) =
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
         |<rdf:Description rdf:about="http://e.org/$about"><ex:p>v</ex:p></rdf:Description>
         |</rdf:RDF>""".stripMargin
    java.nio.file.Files.write(dir.resolve("good.rdf"), doc("good").getBytes("UTF-8"))
    // a producer's in-flight commit dir: hidden DIR, normal leaf file name
    val staging = dir.resolve("_temporary").resolve("0")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000.rdf"), doc("uncommitted").getBytes("UTF-8"))
    val rows = RdfXmlFiles.read(spark, dir.toString).collect()
    assert(rows.map(_.getAs[String]("subj")).toSet == Set("<http://e.org/good>"))
  }

  test("rdfxml source reads gzip-compressed documents (Hadoop codec by extension)") {
    val dir = Files.createTempDirectory("graft_rdfxml_gz")
    val doc =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/gz"><ex:p>zipped</ex:p></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("c.rdf.gz")))
    out.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    val rows = RdfXmlFiles.read(spark, dir.toString).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("subj") == "<http://e.org/gz>")
    assert(rows.head.getAs[String]("lexical") == "zipped")
  }

  test("rdfxml source prunes columns down to the reader") {
    val dir = writeCorpus()
    val df = RdfXmlFiles.read(spark, dir, ParserOptions(baseIRI = "http://base.org/")).select("pred")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(df.collect().length == 5)
    // the physical scan reads only the document text
    assert(scan.contains("ReadSchema: struct<value:string>"), scan)
  }

  test("rdfxml source respects {path} baseIRI placeholder and SQL usage") {
    val dir = writeCorpus()
    val df = RdfXmlFiles.read(spark, dir, ParserOptions(baseIRI = "{path}"))
      .filter(col("error").isNull)
    // rel.rdf's relative subject resolves against its own file URI
    val rel = df.filter(col("path").endsWith("rel.rdf")).select("subj").collect().map(_.getString(0))
    assert(rel.forall(s => s.contains("rel.rdf") || s.contains("frag")), rel.mkString(","))
  }

  /** `body` under the session's file-split settings: files pack into
    * partitions of at most `bytes` (no open cost, no minimum partition
    * count), so 1 byte puts each file in its own partition. */
  private def withMaxPartitionBytes[A](bytes: Long)(body: => A): A = {
    val conf = Map("spark.sql.files.maxPartitionBytes" -> bytes.toString,
      "spark.sql.files.openCostInBytes" -> "0", "spark.sql.files.minPartitionNum" -> "1")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally conf.keys.foreach(spark.conf.unset)
  }

  test("rdfxml source counts scale by file, independent of partition packing") {
    val dir = writeCorpus()
    def countAndPartitions() = {
      val df = RdfXmlFiles.read(spark, dir, ParserOptions(baseIRI = "http://b.org/"))
      (df.count(), df.rdd.getNumPartitions)
    }
    val (one, oneParts) = withMaxPartitionBytes(1L)(countAndPartitions()) // one file per partition
    val (packed, packedParts) = withMaxPartitionBytes(1L << 30)(countAndPartitions()) // all files one partition
    assert(one == packed)
    assert(oneParts == 4)
    assert(packedParts == 1)
  }

  test("path filters push down to file pruning: only matching files are planned") {
    val dir = writeCorpus()
    def read() = RdfXmlFiles.read(spark, dir, ParserOptions(baseIRI = "http://base.org/"))
    // one file per partition → partition count = file count
    withMaxPartitionBytes(1L) {
      assert(read().rdd.getNumPartitions == 4)
      val filtered = read().filter(col("path").endsWith("a.rdf"))
      // pruned at planning: one input partition, not four parsed-then-filtered
      assert(filtered.rdd.getNumPartitions == 1)
      val rows = filtered.collect()
      assert(rows.length == 2 && rows.forall(_.getAs[String]("path").endsWith("a.rdf")))
      // non-path filters are untouched (and still correct)
      val nonPath = read().filter(col("obj_type") === "literal").collect()
      assert(nonPath.nonEmpty && nonPath.forall(_.getAs[String]("obj_type") == "literal"))
    }
  }
}
