package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline._
import graft.rdf.{RdfXmlParser, Relabeler, XmlSyntaxException, XmlTokenizer}

/** JVM side of the benchmark; perfbench/run.py launches it.
  *
  * {{{
  * Main setup --local-dir D
  *     create the SparkSession, print READY, stop
  * Main run --docs D --work W --local-dir L --seconds S --min-resumes N --trace 0|1 --out F
  *     create the session, print READY, then time KgPipeline.run once into
  *     a fresh directory and then on the completed directory (resume) until
  *     S seconds have passed and at least N times; with trace 1, then run
  *     each layer's public function on its predecessor's materialized
  *     output, once untraced and once traced, and the single-thread kernel
  *     measurement; and write the results to F as JSON.
  * }}}
  *
  * Session settings are those of `graft.KgMain` under `local[*]`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = session(opt("local-dir"))
    println("READY")
    System.out.flush()
    try args.head match {
      case "setup" => ()
      case "run" =>
        val out = run(spark, opt("docs"), opt("work"), opt("seconds").toDouble,
          opt("min-resumes").toInt, opt("trace") == "1")
        Files.writeString(Paths.get(opt("out")), Json(out))
    } finally spark.stop()
  }

  def session(localDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("graft-kg-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def statsMap(s: KgPipeline.PipelineStats): Map[String, Any] =
    Map("turns" -> s.turns, "triples" -> s.triples, "parse_errors" -> s.parseErrors,
      "mentions" -> s.mentions, "entities" -> s.entities, "reused_stages" -> s.reusedStages)

  def run(spark: SparkSession, docs: String, work: String, seconds: Double,
          minResumes: Int, trace: Boolean): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def op(kind: String)(body: => KgPipeline.PipelineStats): Unit =
      try {
        val (s, t) = secondsOf(body)
        ops += Map("kind" -> kind, "seconds" -> t, "stats" -> statsMap(s))
      } catch {
        case NonFatal(e) => ops += Map("kind" -> kind, "error" -> e.toString)
      }

    // One fresh run into an empty directory, cold as spark-submit runs it,
    // then resumed runs on the completed directory until `seconds` have
    // passed since the fresh run started, and at least `minResumes` times.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val dir = s"$work/job"
    op("fresh")(KgPipeline.run(spark, docs, dir))
    val rssFresh = peakRssMb
    var resumes = 0
    while (resumes < minResumes || System.nanoTime() < deadline) {
      op("resume")(KgPipeline.run(spark, docs, dir))
      resumes += 1
    }

    val layers: Map[String, Any] =
      if (!trace) Map.empty
      else try traced(spark, docs, s"$work/layers", rssFresh)
      catch { case NonFatal(e) => Map("error" -> e.toString) }

    Map("ops" -> ops.toSeq, "layers" -> layers,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => OracleQueries(k) })
  }

  /** The oracle queries the output check runs (with DuckDB, outside timing). */
  val OracleQueries = Set("kg_triples", "kg_parse_errors", "kg_mentions", "kg_link_edges")

  /** Peak resident set of this JVM so far (VmHWM), in MB. Read right after
    * the fresh run, so it covers set-up and the cold job, not a number of
    * resumes that depends on speed. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  // ----------------------------------------------------------- traced run

  /** Every node of an executed plan, looking through the adaptive and
    * query-stage wrappers. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other.children.flatMap(planNodes)
  })

  /** Output rows of the shared-shingle self-join in `Linking.jaccardEdges`:
    * the inner join keyed on `shingle` (the DF cap's anti-join runs inside
    * the shingle frame's local checkpoint, not in this plan). */
  private def candidatePairs(plans: Seq[QueryExecution]): Long = {
    val joins = plans.flatMap(qe => planNodes(qe.executedPlan)).collect {
      case j: BaseJoinExec if j.joinType == Inner &&
          j.leftKeys.exists(_.references.exists(_.name == "shingle")) => j
    }
    require(joins.nonEmpty, "shared-shingle join not found in the linking plan")
    joins.map(_.metrics("numOutputRows").value).sum
  }

  /** The sameAs-joined triple table `KgPipeline.run` snapshots as
    * `triples_all`, rebuilt from the materialized parse, mention and
    * canonical outputs through public columns only. */
  private def allTriples(parsed: DataFrame, mentions: DataFrame, canonical: DataFrame): DataFrame = {
    val mentionTriples = mentions.join(broadcast(canonical), mentions("mention") === canonical("node"))
      .select(
        concat(lit("<http://graft.dev/mention/"), col("mention"), lit(">")).as("subj"),
        lit("<http://graft.dev/voc#sameAs>").as("pred"),
        concat(lit("<http://graft.dev/entity/"), col("component"), lit(">")).as("obj"),
        col("conv_id"), col("turn_idx"))
    parsed.filter(col("error").isNull)
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
      .unionAll(mentionTriples)
  }

  /** Each KG layer's public function on its predecessor's output, which
    * the previous call wrote to parquet under `work`. */
  private def runLayers(spark: SparkSession, docs: String, work: String, spans: Spans): Unit = {
    def read(name: String) = spark.read.parquet(s"$work/$name")
    def sink(df: DataFrame, name: String): Unit = df.write.parquet(s"$work/$name")
    spans.span("transcripts") { sink(Transcripts.transcripts(spark, docs), "transcripts") }
    val turns = read("transcripts")
    spans.span("parse_stage") {
      sink(ParseStage.parseTurns(turns.filter(col("turn_idx") % 2 === 0)).toDF(), "parse")
    }
    spans.span("ner") { sink(Ner.mentions(turns.filter(col("turn_idx") % 2 === 1)), "mentions") }
    spans.span("linking") {
      sink(Linking.jaccardEdges(read("mentions").select("mention").distinct(), 0.5), "edges")
    }
    spans.span("cc") { sink(ConnectedComponents.run(read("edges")), "canonical") }
    spans.span("materialize") {
      spans.span("materialize.snapshot") {
        Materialize.snapshotStage(spark, "triples_all", s"$work/triples_all") {
          allTriples(read("parse"), read("mentions"), read("canonical"))
        }
      }
      val all = read("triples_all/data").withColumn("error", lit(null: String))
      spans.span("materialize.triples") { Materialize.triples(all, s"$work/graph") }
      spans.span("materialize.adjacency") { Materialize.adjacency(all, s"$work/adjacency") }
    }
  }

  /** The layer sequence untraced twice (the first pass compiles its plans),
    * then traced, then the kernel measurement; per-layer metrics and the
    * counts the output check compares. Tracing overhead is the traced total
    * minus the second untraced one. */
  private def traced(spark: SparkSession, docs: String, work: String, rssFresh: Double): Map[String, Any] = {
    runLayers(spark, docs, s"$work/warmup", NoSpans)
    val untracedS = secondsOf(runLayers(spark, docs, s"$work/untraced", NoSpans))._2
    val tracer = new Tracer(spark)
    tracer.span("kg_traced")(runLayers(spark, docs, s"$work/traced", tracer))
    def read(name: String) = spark.read.parquet(s"$work/traced/$name")
    val kernel = tracer.span("kernel")(kernelRates(read("transcripts")))
    tracer.close()

    // Counts for the output check, outside every span.
    val parsed = read("parse")
    val counts = Map(
      "turns" -> read("transcripts").count(),
      "parse_rows" -> parsed.count(),
      "parse_error_rows" -> parsed.filter(col("error").isNotNull).count(),
      "mentions" -> read("mentions").count(),
      "distinct_mentions" -> read("mentions").select("mention").distinct().count(),
      "edges" -> read("edges").count(),
      "components" -> read("canonical").select("component").distinct().count(),
      "triples_all" -> read("triples_all/data").count())

    val root = tracer.byName("kg_traced")
    val all = tracer.inclusive("kg_traced")
    val cores = Runtime.getRuntime.availableProcessors()
    def busy(n: String) = tracer.byName(n).seconds
    val link = tracer.inclusive("linking")
    val candidates = candidatePairs(tracer.plansOf("linking"))
    val mat = tracer.inclusive("materialize")
    val metrics: Map[String, (Double, String)] = Map(
      "transcripts.busy_s" -> (busy("transcripts"), "s"),
      "transcripts.rows" -> (counts("turns").toDouble, "count"),
      "transcripts.shuffle_bytes" -> (tracer.inclusive("transcripts").shuffleWriteBytes.toDouble, "bytes"),
      "parse_stage.busy_s" -> (busy("parse_stage"), "s"),
      "parse_stage.rows" -> (counts("parse_rows").toDouble, "count"),
      "parse_stage.error_rows" -> (counts("parse_error_rows").toDouble, "count"),
      "parse_stage.task_skew" -> (tracer.inclusive("parse_stage").taskSkew, "ratio"),
      "ner.busy_s" -> (busy("ner"), "s"),
      "ner.mentions" -> (counts("mentions").toDouble, "count"),
      "ner.distinct_mentions" -> (counts("distinct_mentions").toDouble, "count"),
      "linking.busy_s" -> (busy("linking"), "s"),
      "linking.candidate_pairs" -> (candidates.toDouble, "count"),
      "linking.edges" -> (counts("edges").toDouble, "count"),
      "linking.yield" -> (counts("edges").toDouble / math.max(1L, candidates), "ratio"),
      "linking.shuffle_bytes" -> (link.shuffleWriteBytes.toDouble, "bytes"),
      "linking.spill_bytes" -> (link.spillBytes.toDouble, "bytes"),
      "cc.busy_s" -> (busy("cc"), "s"),
      "cc.edges_in" -> (counts("edges").toDouble, "count"),
      "cc.components" -> (counts("components").toDouble, "count"),
      "cc.jobs" -> (tracer.inclusive("cc").jobs.toDouble, "count"),
      "materialize.snapshot_s" -> (busy("materialize.snapshot"), "s"),
      "materialize.triples_s" -> (busy("materialize.triples"), "s"),
      "materialize.adjacency_s" -> (busy("materialize.adjacency"), "s"),
      "materialize.bytes_written" -> (mat.outputBytes.toDouble, "bytes"),
      "materialize.shuffle_bytes" -> (mat.shuffleWriteBytes.toDouble, "bytes"),
      "spark.gc_s" -> (all.gcMs / 1e3, "s"),
      "spark.peak_rss_mb" -> (rssFresh, "MB"),
      "spark.cpu_busy_share" -> (all.runMs / 1e3 / (root.seconds * cores), "ratio"),
      "trace.overhead_s" -> (root.seconds - untracedS, "s"),
    ) ++ kernel
    Map("metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "counts" -> counts, "spans" -> tracer.spanRows)
  }

  // ------------------------------------------------------- kernel layers

  /** Payload documents in the fixed kernel sample: the first turns in
    * (conv_id, turn_idx) order, so the sample depends only on the input. */
  val KernelSampleDocs = 2000
  val KernelPasses = 10

  /** Single-thread, warmed rates of the parse kernel's layers over a fixed
    * driver-side sample of payload texts: tokenizer alone (no-op handler),
    * + RDF/XML automaton, + bnode relabel and N-Triples rendering. Each rate
    * is the median of five measurements. */
  private def kernelRates(turns: DataFrame): Map[String, (Double, String)] = {
    val texts = turns.filter(col("turn_idx") % 2 === 0)
      .orderBy("conv_id", "turn_idx").limit(KernelSampleDocs)
      .select("text").collect().map(_.getString(0))
    var sinkLen = 0L
    def tokenize(): Unit = texts.foreach { t =>
      try { val tk = new XmlTokenizer(_ => sinkLen += 1); tk.write(t); tk.end() }
      catch { case _: XmlSyntaxException => sinkLen += 1 }
    }
    def parse(): Unit = texts.foreach { t =>
      RdfXmlParser.parse(t).foreach(ts => sinkLen += ts.size)
    }
    def render(): Unit = texts.iterator.zipWithIndex.foreach { case (t, i) =>
      RdfXmlParser.parse(t).foreach { ts =>
        val relabel = new Relabeler(s"k_${i}_")
        ts.foreach { t0 =>
          val tr = relabel(t0)
          sinkLen += tr.subj.ntriples.length + tr.pred.ntriples.length + tr.obj.ntriples.length
        }
      }
    }
    (1 to 3).foreach { _ => tokenize(); parse(); render() } // JIT warm-up
    // Five rounds, layers interleaved so drift hits all three alike; one
    // measurement is KernelPasses passes over the sample.
    val layers = Seq[(String, () => Unit)](
      "kernel.tokenize_docs_per_s" -> (() => tokenize()),
      "kernel.parse_docs_per_s" -> (() => parse()),
      "kernel.render_docs_per_s" -> (() => render()))
    val times = Seq.fill(5)(layers.map { case (name, pass) =>
      name -> secondsOf((1 to KernelPasses).foreach(_ => pass()))._2 })
    val rates = layers.map { case (name, _) =>
      val t = times.map(_.toMap.apply(name)).sorted
      name -> (texts.length * KernelPasses / t(2), "docs/s")
    }
    val triples = texts.iterator.map(t => RdfXmlParser.parse(t).fold(_ => 0, _.size)).sum
    val r = rates.toMap + ("kernel.triples_per_doc" -> (triples.toDouble / texts.length, "triples/doc"))
    require(sinkLen > 0)
    r
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
