package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, countDistinct, count, lit, pmod, sum}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{Corpus, Dedup}
import graft.multimodal.Multimodal
import perfbench.Harness.Ctx

/** The daily corpus-ingest op. Day 0 and day 1 are the library's own
  * snapshot pair over `<data>/documents.parquet` (`Corpus.deltaOldSlice`
  * and `Corpus.deltaNewSlice`: 2% of the documents added, 2% removed, 2%
  * changed), so the registered from-scratch oracle of the incremental
  * manifest applies to them.
  *
  * [[CorpusDaily.setup]] writes each day's changelog as parquet files (all
  * of day 0; day 1's added and changed documents), then builds the frozen
  * base over day 0 through public entry points only: the models (fluency
  * census, quality weights and threshold, eval hashes), the feature rows
  * streamed through `Streams.manifestFeatureBatches`, the near-dup
  * signatures, edges and clusters, the keep-best election, and the media
  * warehouse (one `mediaWarehouseUpdateOn` hop from no documents).
  *
  * [[Day.update]] is the timed op: stream day 1's changelog, update the
  * manifest and media warehouses, write the new state as parquet, publish
  * the manifest with `Formats.writePartitionedBucketed`, read the consumer
  * aggregate back from the published table, and release the consumed
  * state.
  *
  * [[Day.oracles]] is the untimed check: the chained day-1 manifest against
  * the from-scratch DuckDB formulation of the day-1 manifest under day-0
  * models (`Corpus.manifestIncrementalSql`), and the consumer aggregate
  * against its DuckDB formulation over the chained manifest. */
object CorpusDaily {
  val OpName = "day_update"
  val PublishBuckets = 8

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private final case class Models(census: DataFrame, weights: DataFrame,
                                  threshold: (Long, Long), evalh: DataFrame)

  /** The day-0 warehouse, ready for one timed day. Throws when a set-up
    * step fails. */
  def setup(ctx: Ctx): Day = ctx.span("setup", OpName) {
    val day = new Day(ctx)
    day.bootstrap()
    day
  }

  final class Day private[CorpusDaily] (ctx: Ctx) {
    private val spark = ctx.spark
    private val state = s"${ctx.out}/state"
    private var models: Models = _
    /** Day 0's warehouse: feature rows, keep-best election, near-dup state. */
    private var base: (DataFrame, DataFrame, Dedup.DupWarehouse) = _
    private var media: Multimodal.MediaWarehouse = _
    /** Day 1's chained manifest and consumer aggregate, once the op ran. */
    private var day1: Option[(DataFrame, Array[Row], StructType)] = None
    /** (day, progress) of every streamed micro-batch. */
    val batches = ArrayBuffer.empty[(Int, StreamingQueryProgress)]

    private val documents = graft.ops.Tables.documents(spark, ctx.data)
    private def docs(k: Int): DataFrame =
      if (k == 0) Corpus.deltaOldSlice(documents) else Corpus.deltaNewSlice(documents)
    private def save(df: DataFrame, path: String): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    private def stream(k: Int): DataFrame = {
      val dir = s"${ctx.out}/features/day$k"
      val source = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", "1")
        .parquet(s"${ctx.out}/changelog/day$k")
      val q = graft.streaming.Streams.manifestFeatureBatches(source, models.census, models.weights,
        models.threshold, models.evalh) { (feats, _) => feats.write.mode("append").parquet(dir) }
      q.awaitTermination()
      batches ++= q.recentProgress.map(k -> _)
      spark.read.parquet(dir)
    }
    private def materialize(w: Corpus.ManifestWarehouse, k: Int): Corpus.ManifestWarehouse = {
      val d = s"$state/day$k"
      val out = Corpus.ManifestWarehouse(save(w.features, s"$d/features"), save(w.kb, s"$d/kb"),
        Dedup.DupWarehouse(save(w.dup.manifest, s"$d/dup_manifest"),
          save(w.dup.edges, s"$d/dup_edges"), save(w.dup.sigs, s"$d/dup_sigs")),
        save(w.manifest, s"$d/manifest"))
      w.release()
      out
    }
    private def materializeMedia(w: Multimodal.MediaWarehouse, k: Int): Multimodal.MediaWarehouse = {
      val out = Multimodal.MediaWarehouse(save(w.hashes, s"$state/day$k/media_hashes"),
        save(w.pairs, s"$state/day$k/media_pairs"))
      w.release()
      out
    }

    private[CorpusDaily] def bootstrap(): Unit = {
      val d0 = docs(0)
      val changed = docs(1).join(d0.select("doc_id", "text"), Seq("doc_id", "text"), "left_anti")
      // one file per micro-batch: day 0 in one, day 1 in two
      for ((k, log, files) <- Seq((0, d0, 1), (1, changed, 2)))
        log.select(DocSchema.fieldNames.map(col).toSeq: _*).repartition(files, col("doc_id"))
          .write.parquet(s"${ctx.out}/changelog/day$k")
      val census = save(graft.ext.Text.fluencyCensusOn(d0), s"$state/models/census")
      val weights = save(graft.ext.Quality.qsWeightsOn(d0), s"$state/models/weights")
      val threshold = graft.ext.Quality.qsThresholdOn(d0, weights)
      val evalh = save(Corpus.evalShingleHashes(
        d0.filter(pmod(col("doc_id"), lit(10)) === lit(Corpus.BenchSlice))), s"$state/models/evalh")
      models = Models(census, weights, threshold, evalh)
      // the frozen base over day 0: streamed feature rows with their
      // canonical verdicts, the near-dup state and the keep-best election
      // (the update reads no day-0 manifest)
      val d = s"$state/day0"
      val canon = graft.ext.Text.fingerprintRowsOn(d0)
        .select(col("doc_id"), (col("is_canonical") === lit(1L)).as("is_canonical"))
      val feats = save(stream(0).join(canon, Seq("doc_id")), s"$d/features")
      val clusters = save(Dedup.dupClustersOn(d0), s"$d/dup_manifest")
      base = (feats, save(Dedup.keepBestFrom(clusters, feats), s"$d/kb"),
        Dedup.DupWarehouse(clusters, save(Dedup.dupEdgesOn(d0), s"$d/dup_edges"),
          save(Dedup.minhashSigsOn(d0), s"$d/dup_sigs")))
      val empty = d0.limit(0)
      val noPairs = spark.createDataFrame(java.util.List.of[Row](), StructType(
        Seq("doc_a", "doc_b", "hamming").map(StructField(_, LongType))))
      media = materializeMedia(Multimodal.mediaWarehouseUpdateOn(empty, d0,
        Multimodal.dctHashOn(Multimodal.fromDocuments(empty)).toDF(), noPairs), 0)
      ctx.cleanup()
    }

    /** The timed op: day 0 to day 1. */
    def update(): Unit = {
      val (prev, next) = (docs(0), docs(1))
      val (feats, kb, dup) = base
      val fresh = ctx.span("streaming.Streams", "day1")(stream(1))
      val w = ctx.span("ext.Corpus", "day1")(materialize(Corpus.manifestWarehouseUpdateOn(spark,
        prev, next, feats, kb, dup.manifest, dup.edges, dup.sigs,
        models.census, models.weights, models.threshold._1, models.threshold._2, models.evalh,
        Some(fresh)), 1))
      val mw = ctx.span("multimodal.Multimodal", "day1")(
        materializeMedia(Multimodal.mediaWarehouseUpdateOn(prev, next, media.hashes, media.pairs), 1))
      val table = "manifest_day1"
      ctx.span("sources.Formats", "day1")(graft.sources.Formats.writePartitionedBucketed(
        w.manifest, table, "split", Seq("doc_id"), PublishBuckets))
      val (rows, schema) = ctx.span("ext.Corpus", "day1.consume") {
        val agg = consume(spark.table(table), next)
        (agg.collect(), agg.schema)
      }
      dup.release()
      media.release()
      media = mw
      day1 = Some((w.manifest, rows, schema))
      ctx.cleanup()
    }

    /** Dumps the check results and returns their oracle SQL (none when
      * the timed day did not complete). */
    def oracles(): Seq[(String, String)] = day1.toSeq.flatMap { case (manifest, rows, schema) =>
      manifest.coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/results/$OpName.manifest")
      RowLoop.dump(ctx, s"$OpName.consume", rows, schema)
      val chained = s"read_parquet('$state/day1/manifest/*.parquet')"
      Seq(s"$OpName.manifest" -> Corpus.manifestIncrementalSql,
        s"$OpName.consume" ->
          s"""SELECT m.shard, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(DISTINCT m.chunk_id) AS BIGINT) AS n_chunks,
             |       CAST(sum(d.n_chars) AS BIGINT) AS n_chars_total,
             |       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs
             |FROM $chained m JOIN documents d ON m.doc_id = d.doc_id
             |WHERE m.split = 'train' AND m.packed
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    }

    def batchesJson: String = Json.arr(batches.map { case (k, p) => Json.obj(Seq(
      "day" -> k.toString, "batch_ms" -> p.batchDuration.toString,
      "rows" -> p.numInputRows.toString, "rows_per_s" -> p.processedRowsPerSecond.toString)) })
  }

  /** The trainer-side consumer of the published manifest (the
    * `t_manifest_consume` shape): per-shard totals of the packed train
    * partition after the doc_id rejoin. */
  def consume(published: DataFrame, docs: DataFrame): DataFrame =
    published.filter(col("split") === "train" && col("packed"))
      .select("doc_id", "shard", "chunk_id")
      .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("chunk_id")).as("n_chunks"),
        sum(col("n_chars")).as("n_chars_total"), countDistinct(col("lang")).as("n_langs"))
      .orderBy("shard")
}
