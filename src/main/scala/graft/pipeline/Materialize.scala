package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** P9/P10: graph materialization and resumable snapshot stages.
  *
  * Layout is Iceberg-shaped without an Iceberg catalog (none in the image —
  * SURVEY §7): each stage writes a parquet snapshot directory plus a
  * `_meta/manifest.json` carrying the stage name, its row count and named
  * figures, per-partition row counts and (for snapshot stages) the schema;
  * a stage whose manifest is already present is *not* recomputed — it
  * re-opens its snapshot with the stored schema, which is what makes every
  * stage re-entrant (north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"). Swap the writer for a real Iceberg
  * catalog at deploy time.
  *
  * Every figure is recorded while the stage writes, never by a job of its
  * own: the row count and named figures are observed (`Dataset.observe`)
  * on the written frame or on an input that no exchange separates from the
  * write, so they are counted in the write's result stage, where Spark
  * applies each task's accumulator update exactly once; the per-partition
  * rows come from the written files' parquet footers, read on the driver.
  * A resume reads only manifests.
  *
  * Triple layout for scale: partitioned by `pred_bucket` (16-way — predicate
  * sets are small and skewed, bucketing by hash keeps partition counts
  * bounded at 100 TB) and repartitioned by `subj_hash` so per-subject
  * consumers (adjacency, CC joins) are co-located without a further
  * shuffle. Hot-entity skew is handled by [[Skew.saltedJoin]] + AQE.
  */
object Materialize {

  /** What a stage wrote. `rows` and the named `figures` were observed while
    * the stage wrote its snapshot (see [[snapshotStage]]); on reuse both
    * come from the stage's manifest, so a resumed stage recounts nothing. */
  final case class StageResult(path: String, rows: Long, reused: Boolean,
                               figures: Map[String, Long] = Map.empty)

  /** Named aggregate figures observed on a frame while a stage writes it.
    * Apply it to the frame (`figures(df)`) inside the stage's `compute`, on
    * the written frame or on an input that no exchange separates from the
    * write, and pass it to [[snapshotStage]] as an input: the figures then
    * ride the write's own job. One use per instance (an `Observation`). */
  final class Figures(figures: (String, Column)*) {
    private val observation = Observation()
    val names: Seq[String] = figures.map(_._1)
    def apply(df: DataFrame): DataFrame = {
      val cols = figures.map { case (n, c) => c.as(n) }
      df.observe(observation, cols.head, cols.tail: _*)
    }
    private[Materialize] def values: Map[String, Long] =
      observation.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
  }

  private def manifestPath(dir: String) = Paths.get(dir, "_meta", "manifest.json")

  private final case class Manifest(rows: Long, figures: Map[String, Long], schema: Option[StructType])

  /** The stage's manifest, or None when it is missing, does not parse, or
    * lacks one of the `needed` figures (or the schema, when `needSchema`) —
    * e.g. one an older writer left: the stage then recomputes. */
  private def readManifest(dir: String, needed: Seq[String], needSchema: Boolean): Option[Manifest] =
    Try {
      val json = parse(Files.readString(manifestPath(dir)))
      val JInt(rows) = json \ "rows"
      val figures = json \ "figures" match {
        case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
        case _ => Map.empty[String, Long]
      }
      val schema = Option(json \ "schema").filter(_ != JNothing)
        .map(s => DataType.fromJson(compact(render(s))).asInstanceOf[StructType])
      Manifest(rows.toLong, figures, schema)
    }.toOption.filter(m => needed.forall(m.figures.contains) && (!needSchema || m.schema.isDefined))

  /** Commit a stage: write its manifest to a temporary file and move it
    * into place atomically, so a reader never sees half a manifest. */
  private def writeManifest(dir: String, fields: JField*): Unit = {
    val target = manifestPath(dir)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("manifest.json.tmp")
    Files.writeString(tmp, compact(render(JObject(fields: _*))))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run `write` on `df` with `rows` plus `figures` observed on it, and
    * return them with every input's figures. */
  private def observedWrite(df: DataFrame, figures: Seq[(String, Column)] = Nil, inputs: Seq[Figures] = Nil)
                           (write: DataFrame => Unit): Map[String, Long] = {
    val out = new Figures(("rows" -> count(lit(1))) +: figures: _*)
    write(out(df))
    (out +: inputs).map(_.values).reduce(_ ++ _)
  }

  private val PartFile = """^part-(\d+)-.*\.parquet$""".r

  /** Rows of every part file under `data` from its parquet footer (read on
    * the driver, no job), as (partition directory relative to `data`, part
    * number, rows) sorted. Keyed by the writing task's part number, never by
    * the file's per-write UUID name, so two runs over the same input give
    * the same manifest bytes. Fails when the footers do not hold exactly
    * the `rows` the write observed. */
  private def fileRows(spark: SparkSession, data: String, rows: Long): Seq[(String, Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(data)
    val fs = root.getFileSystem(conf)
    val rootPath = fs.makeQualified(root).toUri.getPath
    val files = fs.listFiles(root, true)
    val out = Seq.newBuilder[(String, Int, Long)]
    while (files.hasNext) {
      val st = files.next()
      PartFile.findFirstMatchIn(st.getPath.getName).foreach { m =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try out += ((st.getPath.getParent.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"),
          m.group(1).toInt, reader.getRecordCount))
        finally reader.close()
      }
    }
    val result = out.result().sorted
    require(result.map(_._3).sum == rows,
      s"the parquet footers under $data hold ${result.map(_._3).sum} rows, the write observed $rows")
    result
  }

  private def partEntries(files: Seq[(String, Int, Long)]): JArray =
    JArray(files.map { case (_, part, n) => JObject("part" -> JInt(part), "rows" -> JInt(n)) }.toList)

  /** Run `compute` as a resumable snapshot stage.
    *
    * Fresh: `compute`'s frame is written to `dir/data` with its row count
    * and `figures` (name → aggregate over the written rows) observed on it;
    * each of `inputs` must be applied inside `compute` to a frame that no
    * exchange separates from the write. The manifest then records `rows`,
    * the figures, per-part rows from the written footers and the schema.
    *
    * Reused — the manifest is present, parses, and holds every figure named
    * by `figures` and `inputs`: `compute` does not run, and the figures are
    * the manifest's. Both paths open the snapshot with the manifest's
    * schema, so neither infers one. */
  def snapshotStage(spark: SparkSession, name: String, dir: String,
                    figures: Seq[(String, Column)] = Nil, inputs: Seq[Figures] = Nil)
                   (compute: => DataFrame): (DataFrame, StageResult) = {
    val data = s"$dir/data"
    val (m, reused) =
      readManifest(dir, figures.map(_._1) ++ inputs.flatMap(_.names), needSchema = true) match {
        case Some(m) => (m, true)
        case None =>
          val df = compute
          val observed = observedWrite(df, figures, inputs)(_.write.mode("overwrite").parquet(data))
          val rows = observed("rows")
          val extra = observed - "rows"
          writeManifest(dir,
            "stage" -> JString(name),
            "rows" -> JInt(rows),
            "figures" -> JObject(extra.toList.sorted.map { case (k, v) => k -> JInt(v) }),
            "partitions" -> partEntries(fileRows(spark, data, rows)),
            "schema" -> parse(df.schema.json))
          (Manifest(rows, extra, Some(df.schema)), false)
      }
    (spark.read.schema(m.schema.get).parquet(data), StageResult(dir, m.rows, reused, m.figures))
  }

  /** Materialize the adjacency table: one row per subject with the full
    * out-degree and a capped, deterministically-ordered adjacency list
    * (north_star: "triple/adjacency tables"). The cap bounds row size for
    * hot entities — a 10⁸-degree subject must not become a 10⁸-element array
    * in one row; consumers needing the full fan-out read the triple table,
    * which is bucketed for exactly that. Degree stays exact (count, not
    * list size). */
  def adjacency(rows: DataFrame, dir: String, maxFanout: Int = 1024, subjBuckets: Int = 64): StageResult = {
    val prior = readManifest(dir, Nil, needSchema = false)
    if (prior.isDefined) return StageResult(dir, prior.get.rows, reused = true)
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
    val data = s"$dir/data"
    val written = observedWrite(adj.repartition(col("subj_hash")).sortWithinPartitions("subj"))(
      _.write.mode("overwrite").parquet(data))("rows")
    writeManifest(dir,
      "stage" -> JString("adjacency"),
      "rows" -> JInt(written),
      "maxFanout" -> JInt(maxFanout),
      "buckets" -> JInt(subjBuckets),
      "partitions" -> partEntries(fileRows(rows.sparkSession, data, written)))
    StageResult(dir, written, reused = false)
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
    val prior = readManifest(dir, Nil, needSchema = false)
    if (prior.isDefined) return StageResult(dir, prior.get.rows, reused = true)
    val keyed = rows
      .filter(col("error").isNull)
      .withColumn("pred_bucket", pmod(xxhash64(col("pred")), lit(16)).cast("int"))
      .withColumn("subj_hash", pmod(xxhash64(col("subj")), lit(subjBuckets)).cast("int"))
    val data = s"$dir/data"
    val written = observedWrite(keyed.repartition(col("subj_hash")).sortWithinPartitions("subj", "pred"))(
      _.write.mode("overwrite").partitionBy("pred_bucket").parquet(data))("rows")
    val perBucket = fileRows(rows.sparkSession, data, written)
      .groupMapReduce(_._1)(_._3)(_ + _).toList
      .map { case (d, n) => (d.stripPrefix("pred_bucket=").toInt, n) }.sorted
    writeManifest(dir,
      "stage" -> JString("triples"),
      "rows" -> JInt(written),
      "buckets" -> JInt(subjBuckets),
      "partitions" -> JArray(perBucket.map { case (b, n) => JObject("pred_bucket" -> JInt(b), "rows" -> JInt(n)) }))
    StageResult(dir, written, reused = false)
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
