package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.CheckpointSyntax
import graft.functions.TextFns
import graft.io.IoOps

/** §3.1 — catalog construction (crawler/metadata.py app()):
  * url-triples -> per-url metadata "fetch" (Externals, mapPartitions) ->
  * Book rows -> narrator wide-expansion (A6/F13) -> metric null-widening
  * (P2) -> duration conversion (P1/F1) -> tvshows filter (2.2-F1) ->
  * consolidated CSV (K1).
  *
  * Scale shape: the fetch is the per-row expensive stage — mapPartitions
  * with one client per partition, partition count = the reference's
  * semaphore budget. Everything downstream is narrow except the single
  * max-narrators aggregate (collected: one int).
  */
object CatalogPipeline {

  final case class RawBook(
    audio_url: String, text_url: String, source: String,
    name: String, author: String, duration: String,
    narrator_names: Seq[String], narrator_urls: Seq[String],
    audio_download_url: Seq[String], text_download_url: String)

  /** Builds the catalog, writes it as CSV under `outDir` and returns it.
    *
    * The fetched metadata is materialised eagerly, once, through
    * [[graft.Checkpoints.cp]] (durable under a checkpoint directory):
    * the call runs that job, and the max-narrators collect, the CSV write
    * and every consumer of the returned catalog read the materialised
    * rows. Each valid url is fetched once per call. */
  def run(spark: SparkSession, urlsPath: String, outDir: String,
      ext: Externals = StubExternals): DataFrame = {
    val triples = IoOps.readDelimLines(spark, urlsPath, ", ",
        Seq("audio_url", "text_url", "source"))
      .filter(col("source") =!= "invalid") // 2.2-F11
    val fetched = triples
      .repartition(8) // FETCH_METADATA_LIMIT=8 (constants.py:39)
      .mapPartitions { rows =>
        rows.map { r =>
          val m = ext.fetchBookMetadata(r.getString(0))
          RawBook(r.getString(0), r.getString(1), r.getString(2),
            m.name, m.author, m.durationStr,
            m.narrators.map(_._1), m.narrators.map(_._2),
            m.audioUrls, m.textUrl)
        }
      }(Encoders.product[RawBook]).toDF()
      // Consumers: the max-narrators collect, the CSV write, the caller's
      // uses of the returned catalog.
      .checkpointed()

    // A6: max narrator count decides the wide-schema width
    val maxRow = fetched.agg(max(size(col("narrator_names")))).collect()(0)
    val maxN = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    val widened = (1 to maxN).foldLeft(fetched) { (df, i) =>
      df.withColumn(s"narrator_${i}_name", expr(s"try_element_at(narrator_names, $i)"))
        .withColumn(s"narrator_${i}_url", expr(s"try_element_at(narrator_urls, $i)"))
    }

    val catalog = widened
      .withColumn("id", substring(sha2(col("name").cast("binary"), 256), 1, 8)) // F16 det. variant
      .withColumn("name", TextFns.normalize_name(col("name")))                  // F2
      .withColumn("duration_hours", TextFns.duration_to_hours(col("duration"))) // P1/F1
      .withColumn("sample_rate", lit(null).cast("int"))                         // P2
      .withColumn("quality", lit(null).cast("string"))
      .withColumn("word_count", lit(null).cast("bigint"))
      .withColumn("num_sentences", lit(null).cast("bigint"))
      .withColumn("audio_size", lit(null).cast("bigint"))
      .withColumn("text_size", lit(null).cast("bigint"))
      .filter(!col("audio_url").contains("tvshows") || col("audio_url").isNull) // 2.2-F1
      .drop("narrator_names", "narrator_urls")
      .withColumn("audio_download_url", to_json(col("audio_download_url")))

    IoOps.writeCsv(catalog.orderBy("name"), outDir) // K1 + O1
    catalog
  }
}
