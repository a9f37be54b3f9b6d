package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Materialize.Figures

/** The end-to-end KG-construction job (north_star): transcripts → windowed
  * conversation reconstruction → per-turn RDF/XML parse + NER → entity
  * linking → canonicalization → materialized graph, with every stage a
  * resumable snapshot (P10). This is the unit `Bench` times and
  * `spark-submit` would run on a cluster.
  */
object KgPipeline {

  /** Broadcast ceiling (rows) for the canonical-mention map. Below it the
    * sameAs join is a map-side broadcast join; above it — corpus-scale
    * distinct mentions can exceed driver/executor broadcast limits — fall
    * back to an un-hinted join and let AQE pick sort-merge / shuffled-hash
    * (and re-broadcast at runtime if the map turns out small after all). */
  val CanonicalBroadcastMaxRows = 10000000L

  /** The mention → component join with the size guard applied.
    * `canonicalRows` is the canonical stage's recorded row count, so the
    * guard costs no job. */
  private[pipeline] def joinCanonical(mentions: DataFrame, canonical: DataFrame,
                                      canonicalRows: Long, maxBroadcastRows: Long): DataFrame = {
    val dim = if (canonicalRows <= maxBroadcastRows) broadcast(canonical) else canonical
    mentions.join(dim, mentions("mention") === canonical("node"))
  }

  /** What one run built, read from the stage manifests on fresh and resumed
    * runs alike — no field is recounted:
    *  - `turns`: payload turns the parse stage read + prose turns the
    *    mentions stage read (observed on each stage's input);
    *  - `triples`: rows of `triples_all`;
    *  - `parseErrors`: error rows of the parse stage;
    *  - `mentions`: rows of the mentions stage;
    *  - `entities`: canonical rows with `node = component` (one per
    *    component: see [[ConnectedComponents.run]]);
    *  - `subjectsApprox`: HLL sketch (`approx_count_distinct`, rsd 0.02) of
    *    the distinct subjects of `triples_all` — the affordable cardinality
    *    read at 10¹²-row scale, where an exact countDistinct would be its
    *    own full-shuffle job (SURVEY P10);
    *  - `reusedStages`: stages of the six whose manifest was reused. */
  final case class PipelineStats(
      turns: Long,
      triples: Long,
      parseErrors: Long,
      mentions: Long,
      entities: Long,
      subjectsApprox: Long,
      reusedStages: Int,
  )

  /** Run the job into `outDir`, resuming from every stage whose manifest is
    * present: a fully reused run reads only the manifests and launches no
    * Spark job. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          canonicalBroadcastMaxRows: Long = CanonicalBroadcastMaxRows): PipelineStats = {
    // P1-P3: scan + parse of the payload turns (shuffle-free; each turn
    // self-contained).
    val payloadTurns = new Figures("payload_turns" -> count(lit(1)))
    val (parsed, parse) = Materialize.snapshotStage(spark, "parse", s"$outDir/parse",
        Seq("error_rows" -> count(col("error"))), Seq(payloadTurns)) {
      ParseStage.parseTurns(payloadTurns(Transcripts.payloadTurns(spark, sfDir)))
    }

    // P5: mentions from the prose turns.
    val proseTurns = new Figures("prose_turns" -> count(lit(1)))
    val (mentions, ment) = Materialize.snapshotStage(spark, "mentions", s"$outDir/mentions",
        inputs = Seq(proseTurns)) {
      Ner.mentions(proseTurns(Transcripts.proseTurns(spark, sfDir)))
    }

    // P6-P8: universe → LSH candidates → verified edges → components.
    val (canonical, canon) = Materialize.snapshotStage(spark, "canonical", s"$outDir/canonical",
        Seq("components" -> count_if(col("node") === col("component")))) {
      val universe = mentions.select("mention").distinct()
      val edges = Linking.jaccardEdges(universe, 0.5)
      ConnectedComponents.run(edges)
    }

    // Canonical entity triples: mention → its component representative,
    // emitted as sameAs triples joined into the graph. The canonical map is
    // usually small (distinct mentions) → broadcast join; size-guarded so a
    // corpus whose mention universe outgrows broadcast limits degrades to a
    // shuffle join instead of failing (see [[CanonicalBroadcastMaxRows]]).
    val (allTriples, all) = Materialize.snapshotStage(spark, "triples_all", s"$outDir/triples_all",
        Seq("subjects_approx" -> approx_count_distinct(col("subj"), 0.02))) {
      val mentionTriples = joinCanonical(mentions, canonical, canon.rows, canonicalBroadcastMaxRows)
        .select(
          concat(lit("<http://graft.dev/mention/"), col("mention"), lit(">")).as("subj"),
          lit("<http://graft.dev/voc#sameAs>").as("pred"),
          concat(lit("<http://graft.dev/entity/"), col("component"), lit(">")).as("obj"),
          col("conv_id"), col("turn_idx"))
      parsed.filter(col("error").isNull)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
        .unionAll(mentionTriples)
    }

    // P9: bucketed, pred-partitioned triple table + subject adjacency table.
    val graph = Materialize.triples(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/graph")
    val adjacency = Materialize.adjacency(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/adjacency")

    PipelineStats(
      turns = parse.figures("payload_turns") + ment.figures("prose_turns"),
      triples = all.rows,
      parseErrors = parse.figures("error_rows"),
      mentions = ment.rows,
      entities = canon.figures("components"),
      subjectsApprox = all.figures("subjects_approx"),
      reusedStages = Seq(parse, ment, canon, all, graph, adjacency).count(_.reused),
    )
  }
}
