package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** P9/P10: graph materialization and resumable snapshot stages.
  *
  * Layout is Iceberg-shaped without an Iceberg catalog (none in the image —
  * SURVEY §7): each stage writes a parquet snapshot directory plus a
  * `_meta/manifest.json` carrying row counts, per-partition metrics and the
  * stage name; a stage whose manifest already exists is *not* recomputed —
  * it re-reads its snapshot, which is what makes every stage re-entrant
  * (north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"). Swap the writer for a real Iceberg catalog at deploy time.
  *
  * Triple layout for scale: partitioned by `pred_bucket` (16-way — predicate
  * sets are small and skewed, bucketing by hash keeps partition counts
  * bounded at 100 TB) and repartitioned by `subj_hash` so per-subject
  * consumers (adjacency, CC joins) are co-located without a further
  * shuffle. Hot-entity skew is handled by [[Skew.saltedJoin]] + AQE.
  */
object Materialize {

  final case class StageResult(path: String, rows: Long, reused: Boolean)

  private def manifestPath(dir: String) = Paths.get(dir, "_meta", "manifest.json")

  def manifestExists(dir: String): Boolean = Files.exists(manifestPath(dir))

  /** Run `compute` as a resumable snapshot stage: skip + re-read when the
    * snapshot manifest is already present. */
  def snapshotStage(spark: SparkSession, name: String, dir: String)(compute: => DataFrame): (DataFrame, StageResult) = {
    if (manifestExists(dir)) {
      val df = spark.read.parquet(s"$dir/data")
      (df, StageResult(dir, -1L, reused = true))
    } else {
      val df = compute
      df.write.mode("overwrite").parquet(s"$dir/data")
      val back = spark.read.parquet(s"$dir/data")
      val partCounts = back.groupBy(spark_partition_id().as("pid")).count()
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      val rows = partCounts.map(_._2).sum
      val partitions = partCounts.map { case (pid, n) => s"""{"pid":$pid,"rows":$n}""" }
      Files.createDirectories(manifestPath(dir).getParent)
      Files.writeString(manifestPath(dir),
        s"""{"stage":"$name","rows":$rows,"partitions":[${partitions.mkString(",")}]}""")
      (back, StageResult(dir, rows, reused = false))
    }
  }

  /** Materialize the adjacency table: one row per subject with the full
    * out-degree and a capped, deterministically-ordered adjacency list
    * (north_star: "triple/adjacency tables"). The cap bounds row size for
    * hot entities — a 10⁸-degree subject must not become a 10⁸-element array
    * in one row; consumers needing the full fan-out read the triple table,
    * which is bucketed for exactly that. Degree stays exact (count, not
    * list size). */
  def adjacency(rows: DataFrame, dir: String, maxFanout: Int = 1024, subjBuckets: Int = 64): StageResult = {
    val spark = rows.sparkSession
    if (manifestExists(dir)) return StageResult(dir, -1L, reused = true)
    val triples = rows.filter(col("error").isNull)
    // Degree/n_pred: plain aggregates — map-side partial, skew-safe.
    val degrees = triples.groupBy("subj")
      .agg(count(lit(1)).as("degree"), countDistinct(col("pred")).as("n_pred"))
    // Edge list: cap BEFORE collect_list — slice(collect_list(...)) would
    // still buffer the full fan-out per subject in the aggregation buffer,
    // which OOMs on a 10⁸-degree hot entity. The window keeps at most
    // maxFanout rows per subject flowing into the collect.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("subj").orderBy("pred", "obj")
    val capped = triples.select(col("subj"), col("pred"), col("obj"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxFanout)
      .groupBy("subj")
      .agg(sort_array(collect_list(struct(col("pred"), col("obj")))).as("edges"))
    val adj = degrees.join(capped, "subj")
      .withColumn("subj_hash", pmod(xxhash64(col("subj")), lit(subjBuckets)).cast("int"))
    adj.repartition(col("subj_hash"))
      .sortWithinPartitions("subj")
      .write.mode("overwrite").parquet(s"$dir/data")
    val back = spark.read.parquet(s"$dir/data")
    val rows2 = back.count()
    Files.createDirectories(manifestPath(dir).getParent)
    Files.writeString(manifestPath(dir),
      s"""{"stage":"adjacency","rows":$rows2,"maxFanout":$maxFanout,"buckets":$subjBuckets}""")
    StageResult(dir, rows2, reused = false)
  }

  /** Catalog-bucketed triple table (`bucketBy` + `saveAsTable`): subject-hash
    * buckets the planner understands, so subject-keyed self-joins and
    * adjacency aggregations read both sides pre-co-located — zero Exchange
    * (PlanSpec pins it). This is the deploy-time layout on a real catalog;
    * [[triples]] is the path-based Iceberg-shaped equivalent. */
  def bucketedTriples(rows: DataFrame, table: String, subjBuckets: Int = 64): Unit =
    rows.filter(col("error").isNull)
      .select("subj", "pred", "obj", "conv_id", "turn_idx")
      .write.mode("overwrite")
      .bucketBy(subjBuckets, "subj")
      .sortBy("subj", "pred")
      .format("parquet")
      .saveAsTable(table)

  // ------------------------------------------------- dictionary encoding

  /** Dictionary-encoded term materialization — the shuffle-width win at
    * 100 TB: downstream joins/aggregations move 8-byte BIGINT term ids
    * instead of full IRI/literal strings, so every exchange, sort buffer,
    * and bucketed file shrinks by roughly the mean term length. Ids are
    * CONTENT hashes (the native codegen `fnv1a64`), which makes
    * [[encodeTriples]] MAP-ONLY — no join against the dictionary and no
    * global row_number (dense-id assignment is a single-partition sort at
    * any scale; a hash id needs neither). The dictionary is one distinct
    * over the exploded terms and exists only for decode-time join-back.
    * 64-bit FNV keeps the DuckDB oracle replayable (`q_dict_roundtrip`'s
    * join-back identity would fan out and fail the gate on any collision);
    * a production 100 TB deployment widens to a 128-bit hash for birthday
    * headroom without changing the plan shape. */
  def termDictionary(triples: DataFrame): DataFrame =
    triples
      .select(explode(array(col("subj"), col("pred"), col("obj"))).as("term"))
      .distinct()
      .select(graft.functions.GraftFunctions.fnv1a64(col("term")).as("term_id"), col("term"))

  /** (s_id, p_id, o_id) BIGINT rows, one per input triple (multiplicity
    * preserved); narrow projection, no exchange — plan-pinned. */
  def encodeTriples(triples: DataFrame): DataFrame =
    triples.select(
      graft.functions.GraftFunctions.fnv1a64(col("subj")).as("s_id"),
      graft.functions.GraftFunctions.fnv1a64(col("pred")).as("p_id"),
      graft.functions.GraftFunctions.fnv1a64(col("obj")).as("o_id"))

  /** Join-back decode: three equi-joins against the dictionary (AQE picks
    * broadcast when the dictionary is small; at 100 TB it is a shuffle
    * join, still keyed on 8-byte ids). Restores (subj, pred, obj). */
  def decodeTriples(encoded: DataFrame, dict: DataFrame): DataFrame =
    encoded
      .join(dict.select(col("term_id").as("s_id"), col("term").as("subj")), Seq("s_id"))
      .join(dict.select(col("term_id").as("p_id"), col("term").as("pred")), Seq("p_id"))
      .join(dict.select(col("term_id").as("o_id"), col("term").as("obj")), Seq("o_id"))
      .select("subj", "pred", "obj")

  /** N-Triples text sink — the line-based interchange serialization the
    * reference ecosystem round-trips through (its quad streams feed
    * N-Triples writers downstream). The subj/pred/obj columns already carry
    * canonical term text (graft.rdf.Terms ntriples rendering), so the sink
    * is a single codegen'd concat + text write; `sortWithinPartitions`
    * keeps each output file deterministically ordered without a global
    * sort's single-reducer bottleneck. */
  def ntriples(rows: DataFrame, dir: String): Unit =
    rows.filter(col("error").isNull)
      .select(concat_ws(" ", col("subj"), col("pred"), col("obj"), lit(".")).as("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").text(dir)

  /** N-Quads text sink: like [[ntriples]] with the graph term as the fourth
    * position (reference `defaultGraph` semantics — rows in the default
    * graph, a null/empty `graph` column, serialize as plain triples; the
    * reference emits quads via `ParseStage.parseQuads`). */
  def nquads(rows: DataFrame, dir: String): Unit = {
    val graph =
      if (rows.columns.contains("graph"))
        when(col("graph").isNull || col("graph") === "", lit(null: String))
          // ParseStage.parseQuads carries the raw defaultGraph IRI; wrap it
          // as a term unless the column already holds rendered term text
          .when(col("graph").startsWith("<") || col("graph").startsWith("_:"), col("graph"))
          .otherwise(concat(lit("<"), col("graph"), lit(">")))
      else lit(null: String)
    rows.filter(col("error").isNull)
      .select(concat_ws(" ", col("subj"), col("pred"), col("obj"), graph, lit(".")).as("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").text(dir)
  }

  /** Materialize the triple table: pred_bucket partitions on disk, rows
    * co-located and sorted by subject within files. */
  def triples(rows: DataFrame, dir: String, subjBuckets: Int = 64): StageResult = {
    val spark = rows.sparkSession
    if (manifestExists(dir)) return StageResult(dir, -1L, reused = true)
    val keyed = rows
      .filter(col("error").isNull)
      .withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(16)).cast("int"))
      .withColumn("subj_hash", pmod(xxhash64(col("subj")), lit(subjBuckets)).cast("int"))
    keyed
      .repartition(col("subj_hash"))
      .sortWithinPartitions("subj", "pred")
      .write.mode("overwrite")
      .partitionBy("pred_bucket")
      .parquet(s"$dir/data")
    val back = spark.read.parquet(s"$dir/data")
    val perBucket = back.groupBy("pred_bucket").count().collect()
      .map(r => s"""{"pred_bucket":${r.get(0)},"rows":${r.getLong(1)}}""")
    val rows2 = back.count()
    Files.createDirectories(manifestPath(dir).getParent)
    Files.writeString(manifestPath(dir),
      s"""{"stage":"triples","rows":$rows2,"buckets":$subjBuckets,"partitions":[${perBucket.mkString(",")}]}""")
    StageResult(dir, rows2, reused = false)
  }
}

/** Explicit skew handling for pathological single-key hotspots, beyond what
  * AQE's skew-join split covers (north_rule requires explicit handling).
  */
object Skew {

  /** Replicated-salt join: `big` rows get a deterministic salt derived from
    * `saltSource` (any column with per-row entropy, e.g. the object term);
    * `small` is exploded across all salts. Equivalent to an equi-join on
    * `key`, but a hot key's rows spread across `salts` reducers.
    * Use only when `small` is too big to broadcast — broadcast beats salt.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, saltSource: String, salts: Int): DataFrame = {
    val b = big.withColumn("_salt", pmod(xxhash64(col(saltSource)), lit(salts)).cast("int"))
    val s = small.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, "_salt")).drop("_salt")
  }

  /** Top-k hot keys by frequency — the candidates for salting/special-casing
    * (`groupBy(key).count.orderBy(desc).limit(k)`). */
  def hotKeys(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n")).orderBy(desc("n"), col(key)).limit(k)
}
