package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {

  test("parse error channel: bad documents become error rows, not failures") {
    import spark.implicits._
    val turns = Seq(
      ("c1", 0, """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"><rdf:Description rdf:about="http://e.org/s" rdf:nodeID="x"/></rdf:RDF>"""),
      ("c1", 1, """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"><rdf:Description rdf:about="http://e.org/s"><ex:p>v</ex:p></rdf:Description></rdf:RDF>"""),
      ("c1", 2, "<not-xml"),
      ("c1", 3, null),
    ).toDF("conv_id", "turn_idx", "text")
    val rows = ParseStage.parseTurns(turns).collect()
    val errors = rows.filter(_.getAs[String]("error") != null)
    val ok = rows.filter(_.getAs[String]("error") == null)
    assert(errors.length == 3)
    assert(errors.map(_.getAs[Int]("turn_idx")).toSet == Set(0, 2, 3))
    assert(errors.find(_.getAs[Int]("turn_idx") == 0).get.getAs[String]("error").startsWith("Only one of rdf:about"))
    assert(ok.map(_.getAs[String]("obj")) sameElements Array("\"v\""))
  }

  test("blank node relabeling is canonical and globally unique") {
    import spark.implicits._
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/"><rdf:Description><ex:p>v</ex:p></rdf:Description></rdf:RDF>"""
    val turns = Seq(("c1", 0, doc), ("c1", 2, doc), ("c2", 0, doc)).toDF("conv_id", "turn_idx", "text")
    val subjects = ParseStage.parseTurns(turns).collect().map(_.getAs[String]("subj")).toSet
    assert(subjects == Set("_:c1_0_b0", "_:c1_2_b0", "_:c2_0_b0"))
  }

  test("parseQuads stamps the configured default graph on every quad (ref test:1189-1201)") {
    import spark.implicits._
    val doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:dc="http://purl.org/dc/elements/1.1/"><rdf:Description dc:title="RDF1.1 XML Syntax"></rdf:Description></rdf:RDF>"""
    val turns = Seq(("c1", 0, doc)).toDF("conv_id", "turn_idx", "text")
    val custom = ParseStage.parseQuads(turns, graft.rdf.ParserOptions(defaultGraph = "http://example.org/g1")).collect()
    assert(custom.length == 1 && custom.head.getAs[String]("graph") == "http://example.org/g1")
    assert(custom.head.getAs[String]("pred") == "<http://purl.org/dc/elements/1.1/title>")
    val dflt = ParseStage.parseQuads(turns).collect()
    assert(dflt.head.getAs[String]("graph") == null)
  }

  test("conversation reconstruction flags non-dense turn indexes") {
    import spark.implicits._
    val turns = Seq(
      ("c1", 0, "user", "a", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      ("c1", 1, "user", "b", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      ("c2", 0, "user", "c", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:02")),
      ("c2", 5, "user", "d", null, java.sql.Timestamp.valueOf("2026-01-01 00:00:03")),
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val rec = ParseStage.reconstructConversations(turns)
    assert(rec.filter(col("dense")).count() == 3)
    assert(rec.filter(!col("dense")).select("conv_id", "turn_idx").as[(String, Int)].collect().toSet == Set(("c2", 5)))
  }

  test("snapshot stages are resumable: second run reuses, compute not re-executed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap").toString
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    def figures = Seq("b_rows" -> count_if(col("v") === "b"))
    def stage(d: String) = {
      val odd = new Materialize.Figures("odd_in" -> count_if(col("id") % 2 === 1))
      Materialize.snapshotStage(spark, "s", d, figures, Seq(odd))(odd(compute))
    }
    val (df1, r1) = stage(dir)
    assert(!r1.reused && r1.rows == 2 && computes == 1)
    assert(r1.figures == Map("b_rows" -> 1L, "odd_in" -> 1L))
    // reuse: rows and figures come back from the manifest, nothing recounted
    val (df2, r2) = stage(dir)
    assert(r2.reused && r2.rows == 2 && r2.figures == r1.figures && computes == 1)
    assert(df2.collect().map(_.getInt(0)).sorted sameElements Array(1, 2))
    val manifestPath = java.nio.file.Paths.get(dir, "_meta", "manifest.json")
    val manifest = Files.readString(manifestPath)
    assert(manifest.contains("\"rows\":2"))
    // an interrupted write: data/ landed but _meta/manifest.json did not —
    // the rerun recomputes and ends exactly where an uninterrupted run does
    val torn = Files.createTempDirectory("graft_snap_torn").toString
    Seq((9, "partial")).toDF("id", "v").write.parquet(s"$torn/data")
    val (df3, r3) = stage(torn)
    assert(!r3.reused && r3.rows == 2 && computes == 2)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.as[(Int, String)].collect().sorted.toSeq
    assert(sorted(df3) == sorted(df1))
    assert(Files.readString(java.nio.file.Paths.get(torn, "_meta", "manifest.json")) == manifest)
    // a truncated manifest, one without the figures (as an older writer
    // left it), and a stage that needs a figure the manifest lacks all
    // count as absent: the stage recomputes and rewrites the same manifest
    Files.writeString(manifestPath, manifest.take(manifest.length / 2))
    assert(!stage(dir)._2.reused && computes == 3)
    assert(Files.readString(manifestPath) == manifest)
    Files.writeString(manifestPath, """{"stage":"s","rows":2,"partitions":[{"pid":0,"rows":2}]}""")
    assert(!stage(dir)._2.reused && computes == 4)
    assert(Files.readString(manifestPath) == manifest)
    val (_, r5) = Materialize.snapshotStage(spark, "s", dir,
      figures :+ ("a_rows" -> count_if(col("v") === "a")))(compute)
    assert(!r5.reused && r5.figures == Map("a_rows" -> 1L, "b_rows" -> 1L) && computes == 5)
  }

  test("KgPipeline end-to-end + resume") {
    val out = Files.createTempDirectory("graft_kg").toString
    val stats = KgPipeline.run(spark, sfDir, out)
    assert(stats.turns == 1000)
    assert(stats.triples > 2400) // parsed triples + sameAs triples
    // the corpus seeds doc_id % 65 == 63 as malformed (7 of 500 at sf0.001):
    // the pipeline surfaces them on the error channel without failing
    assert(stats.parseErrors == 7)
    // 2 occurrences per prose turn (500 turns) + the seeded doc-11
    // celebrity burst (Transcripts.HubMentions distinct binary mentions)
    assert(stats.mentions == 1000 + Transcripts.HubMentions)
    assert(stats.entities > 0 && stats.entities < 70)
    assert(stats.reusedStages == 0)
    // the recorded figures equal a recount of the written snapshots
    def snap(stage: String) = spark.read.parquet(s"$out/$stage/data")
    assert(stats.triples == snap("triples_all").count())
    assert(stats.parseErrors == snap("parse").filter(col("error").isNotNull).count())
    assert(stats.mentions == snap("mentions").count())
    assert(stats.entities == snap("canonical").select("component").distinct().count())
    // HLL at rsd=0.02 must land within ~3x rsd of the exact distinct count
    val exactSubjects = snap("triples_all").select("subj").distinct().count()
    assert(math.abs(stats.subjectsApprox - exactSubjects).toDouble / exactSubjects < 0.06,
      s"approx=${stats.subjectsApprox} exact=$exactSubjects")
    // a fully reused run reads only the manifests: the same stats, and not
    // one Spark job in its job group
    val sc = spark.sparkContext
    val group = s"kg-resume-${System.nanoTime()}"
    sc.setJobGroup(group, "resumed KgPipeline.run")
    val stats2 = try KgPipeline.run(spark, sfDir, out) finally sc.clearJobGroup()
    assert(stats2 == stats.copy(reusedStages = 6))
    // the status tracker learns of jobs through the listener bus, in order:
    // once a job started after the run is visible, any job of the run is too
    val probe = s"$group-probe"
    sc.setJobGroup(probe, "listener-bus probe")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getJobIdsForGroup(probe).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(probe).nonEmpty)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
    // materialized layout: pred_bucket partition dirs exist
    val graphDirs = new java.io.File(s"$out/graph/data").listFiles().map(_.getName).filter(_.startsWith("pred_bucket="))
    assert(graphDirs.nonEmpty)
    // adjacency table: exact degree, capped deterministic edge list
    val adj = spark.read.parquet(s"$out/adjacency/data")
    assert(adj.count() > 0)
    val r = adj.selectExpr("max(degree)", "max(size(edges))", "min(size(edges))").head()
    assert(r.getLong(0) >= r.getInt(1) && r.getInt(2) >= 1)
  }

  test("ntriples text sink: canonical line-per-triple output, parse round-trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nt_sink").toString
    val parsed = ParseStage.parsedTranscripts(spark, "/root/testdata/sf0.001")
      .filter(col("turn_idx") === 0) // deterministic subset
    Materialize.ntriples(parsed.toDF(), dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.nonEmpty && lines.forall(_.endsWith(" .")))
    // every line is exactly "<subj> <pred> <obj> ." over the canonical terms
    val expected = parsed.filter(col("error").isNull)
      .select(concat_ws(" ", col("subj"), col("pred"), col("obj"), lit(".")))
      .as[String].collect().sorted.toSeq
    assert(lines.sorted.toSeq == expected)
  }

  test("driver contract: SparkEntry.entry returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("nquads text sink: graph term in fourth position, default graph as plain triple") {
    import spark.implicits._
    val turns = Seq(("c1", 0,
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e.org/">
        |<rdf:Description rdf:about="http://e.org/s"><ex:p>v</ex:p></rdf:Description></rdf:RDF>""".stripMargin))
      .toDF("conv_id", "turn_idx", "text")
    // named graph: raw IRI option becomes a wrapped term
    val dirG = Files.createTempDirectory("nq_sink_g").toString
    Materialize.nquads(
      ParseStage.parseQuads(turns, graft.rdf.ParserOptions(defaultGraph = "http://e.org/g")), dirG)
    val gLines = spark.read.text(dirG).as[String].collect()
    assert(gLines.toSeq == Seq("""<http://e.org/s> <http://e.org/p> "v" <http://e.org/g> ."""))
    // default graph: plain triple line
    val dirD = Files.createTempDirectory("nq_sink_d").toString
    Materialize.nquads(ParseStage.parseQuads(turns), dirD)
    val dLines = spark.read.text(dirD).as[String].collect()
    assert(dLines.toSeq == Seq("""<http://e.org/s> <http://e.org/p> "v" ."""))
  }

  test("canonical-map broadcast is size-guarded: above the ceiling the join is not broadcast") {
    import spark.implicits._
    val mentions = Seq(("m1", "c-1", 1), ("m2", "c-1", 3), ("m3", "c-2", 1))
      .toDF("mention", "conv_id", "turn_idx")
    val canonical = Seq(("m1", "e1"), ("m2", "e1"), ("m3", "m3")).toDF("node", "component")
    // disable the size-based auto-broadcast so the plan shape reflects the
    // guard's hint alone (tiny test relations would otherwise always
    // broadcast, threshold or not)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = KgPipeline.joinCanonical(mentions, canonical, canonicalRows = 3, maxBroadcastRows = 1000000)
      val large = KgPipeline.joinCanonical(mentions, canonical, canonicalRows = 3, maxBroadcastRows = 0)
      assert(small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      val largePlan = large.queryExecution.executedPlan.toString
      assert(!largePlan.contains("BroadcastHashJoin"), largePlan) // sort-merge/shuffled-hash fallback
      // both strategies produce the identical join result
      val cols = Seq("mention", "component")
      assert(small.select(cols.map(col): _*).as[(String, String)].collect().toSet ==
        large.select(cols.map(col): _*).as[(String, String)].collect().toSet)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the adaptive plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    )
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one pathological key carrying half the rows
      val big = spark.range(0, 200000)
        .select(when($"id" < 100000, lit("hot")).otherwise(concat(lit("k"), $"id")).as("key"),
          $"id".as("payload"))
      val small = spark.range(0, 500)
        .select(when($"id" === 0, lit("hot")).otherwise(concat(lit("k"), $"id" + 100000)).as("key"),
          $"id".as("dim"))
      val joined = big.join(small, "key")
      // collect() (not count()) so THIS dataset's adaptive plan executes and
      // finalizes — count() spawns a separate QueryExecution.
      assert(joined.collect().length == 100000 + 499)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (s"k${i % 3}", s"v$i")).toDF("key", "payload")
    val small = Seq(("k0", "x"), ("k1", "y"), ("k2", "z")).toDF("key", "dim")
    val plain = big.join(small, "key").select("key", "payload", "dim").collect().toSet
    val salted = Skew.saltedJoin(big, small, "key", "payload", 8).select("key", "payload", "dim").collect().toSet
    assert(plain == salted)
    val hot = Skew.hotKeys(big, "key", 2).collect().map(_.getString(0))
    assert(hot.length == 2)
  }

  test("dictionary encoding: collision-free ids, dict covers terms, decode is an identity") {
    import spark.implicits._
    val parsed = ParseStage.parsedTranscripts(spark, sfDir).toDF()
      .filter(col("error").isNull).select("subj", "pred", "obj")
      .localCheckpoint(true)
    val dict = Materialize.termDictionary(parsed).localCheckpoint(true)
    val nTerms = parsed.select(explode(array(col("subj"), col("pred"), col("obj"))).as("t"))
      .distinct().count()
    assert(dict.count() == nTerms)
    // content-hash ids: a collision would make decode fan out; pin directly
    assert(dict.select("term_id").distinct().count() == nTerms, "fnv1a64 id collision")
    val decoded = Materialize.decodeTriples(Materialize.encodeTriples(parsed), dict)
    assert(decoded.count() == parsed.count())
    assert(decoded.exceptAll(parsed).count() == 0 && parsed.exceptAll(decoded).count() == 0)
  }
}
