package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming surfaces of the KG pipeline.
  *
  * The reference's "streaming" is incremental per-document emission (SURVEY
  * §3 E1), not event-time processing — each transcript turn is
  * self-contained, so a streamed parse is simply
  * `ParseStage.parseTurns(spark.readStream…)`: the same shuffle-free
  * generator as batch, into any append-mode sink. This object holds the
  * one stateful operator on top of that: per-conversation progress.
  */
final case class ConvProgress(conv_id: String, n_turns: Long, max_turn_idx: Int)

object StreamingParse {

  /** Per-conversation progress tracked across micro-batches with
    * `mapGroupsWithState` — the custom-state surface
    * (`KeyValueGroupedDataset`, GroupState): a conversation's turn count /
    * max turn index / density flag accumulate as its turns arrive in any
    * batch. State is per-key and checkpointed by the engine; at 10¹²-turn
    * scale the state store shards by conv_id exactly like the batch
    * repartition does. */
  def conversationProgress(spark: SparkSession, inputDir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val turns = spark.readStream
      .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .select("conv_id", "turn_idx")
      .as[(String, Int)]
    turns
      .groupByKey(_._1)
      .mapGroupsWithState[ConvProgress, ConvProgress](GroupStateTimeout.NoTimeout) {
        (conv, it, state) =>
          val prev = state.getOption.getOrElse(ConvProgress(conv, 0L, -1))
          var n = prev.n_turns
          var mx = prev.max_turn_idx
          it.foreach { case (_, idx) => n += 1; if (idx > mx) mx = idx }
          val next = ConvProgress(conv, n, mx)
          state.update(next)
          next
      }
      .toDF()
  }
}
