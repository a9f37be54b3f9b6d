package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** The mention → component join with the size guard applied. The row
    * count is read from the already-materialized canonical snapshot, so the
    * guard costs one metadata-cheap count, not an extra shuffle. */
  private[pipeline] def joinCanonical(mentions: DataFrame, canonical: DataFrame,
                                      maxBroadcastRows: Long): DataFrame = {
    val dim = if (canonical.count() <= maxBroadcastRows) broadcast(canonical) else canonical
    mentions.join(dim, mentions("mention") === canonical("node"))
  }

  final case class PipelineStats(
      turns: Long,
      triples: Long,
      parseErrors: Long,
      mentions: Long,
      entities: Long,
      // HLL sketch of distinct subjects — the affordable cardinality read at
      // 10¹²-row scale, where an exact countDistinct would be its own
      // full-shuffle job (SURVEY P10).
      subjectsApprox: Long,
      reusedStages: Int,
  )

  def run(spark: SparkSession, sfDir: String, outDir: String,
          canonicalBroadcastMaxRows: Long = CanonicalBroadcastMaxRows): PipelineStats = {
    var reused = 0

    // P1-P3: scan + parse (shuffle-free; each turn self-contained).
    val turns = Transcripts.transcripts(spark, sfDir)
    val (parsed, r1) = Materialize.snapshotStage(spark, "parse", s"$outDir/parse") {
      ParseStage.parseTurns(turns.filter(col("turn_idx") % 2 === 0))
    }
    if (r1.reused) reused += 1

    // P5: mentions from the prose turns.
    val (mentions, r2) = Materialize.snapshotStage(spark, "mentions", s"$outDir/mentions") {
      Ner.mentions(turns.filter(col("turn_idx") % 2 === 1))
    }
    if (r2.reused) reused += 1

    // P6-P8: universe → LSH candidates → verified edges → components.
    val (canonical, r3) = Materialize.snapshotStage(spark, "canonical", s"$outDir/canonical") {
      val universe = mentions.select("mention").distinct()
      val edges = Linking.jaccardEdges(universe, 0.5)
      ConnectedComponents.run(edges)
    }
    if (r3.reused) reused += 1

    // Canonical entity triples: mention → its component representative,
    // emitted as sameAs triples joined into the graph. The canonical map is
    // usually small (distinct mentions) → broadcast join; size-guarded so a
    // corpus whose mention universe outgrows broadcast limits degrades to a
    // shuffle join instead of failing (see [[CanonicalBroadcastMaxRows]]).
    val (allTriples, r4) = Materialize.snapshotStage(spark, "triples_all", s"$outDir/triples_all") {
      val mentionTriples = joinCanonical(mentions, canonical, canonicalBroadcastMaxRows)
        .select(
          concat(lit("<http://graft.dev/mention/"), col("mention"), lit(">")).as("subj"),
          lit("<http://graft.dev/voc#sameAs>").as("pred"),
          concat(lit("<http://graft.dev/entity/"), col("component"), lit(">")).as("obj"),
          col("conv_id"), col("turn_idx"))
      parsed.filter(col("error").isNull)
        .select("subj", "pred", "obj", "conv_id", "turn_idx")
        .unionAll(mentionTriples)
    }
    if (r4.reused) reused += 1

    // P9: bucketed, pred-partitioned triple table + subject adjacency table.
    val matRes = Materialize.triples(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/graph")
    if (matRes.reused) reused += 1
    val adjRes = Materialize.adjacency(
      allTriples.withColumn("error", lit(null: String)), s"$outDir/adjacency")
    if (adjRes.reused) reused += 1

    PipelineStats(
      turns = turns.count(),
      triples = allTriples.count(),
      parseErrors = parsed.filter(col("error").isNotNull).count(),
      mentions = mentions.count(),
      entities = canonical.select("component").distinct().count(),
      subjectsApprox = allTriples.agg(approx_count_distinct("subj", 0.02)).head().getLong(0),
      reusedStages = reused,
    )
  }
}
