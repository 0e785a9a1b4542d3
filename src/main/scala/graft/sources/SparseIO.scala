package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.core.{ColUniverse, SparseRel}

/** Persistence for [[SparseRel]] — the Spark-native replacement for the
  * reference's npz round-trip (`to_npz`/`read_npz`,
  * sparsity/sparse_frame.py:509-516 + sparsity/io.py:26-47), which stored
  * `data/indices/indptr/shape/frame_index/frame_columns`.
  *
  * Layout: `<path>/data/` holds the COO cells as parquet (columnar,
  * min/max row-group stats, splittable for parallel reads — the
  * distributed analogue of dask `read_npz(glob)`, dask/io.py:51-112);
  * `<path>/_sparse_meta.json` is a tiny sidecar carrying what parquet
  * cannot: the ordered column universe (including all-zero columns,
  * test_sparse_frame.py:353-363) and the index column names.
  *
  * The sidecar goes through Hadoop's `FileSystem` API, so the layout
  * works wherever the parquet does (s3a://, hdfs://, file://) — not
  * just the local disk. JSON is Jackson (ships with Spark), not
  * hand-rolled: labels containing commas/brackets/quotes round-trip.
  *
  * Writes are range-partitioned and sorted by the index so that a
  * subsequent `locRange` prunes row groups via parquet min/max — the
  * same benefit the dask layer gets from sorted divisions
  * (dask/io.py:38-48).
  */
object SparseIO {

  private val META = "_sparse_meta.json"

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Supported data formats. Parquet is the default (columnar,
    * min/max stats, splittable); ORC matches it feature-for-feature;
    * JSON/CSV are interchange formats — no row-group pruning, CSV
    * additionally needs the schema re-applied on read (done below). */
  private val Formats = Set("parquet", "orc", "json", "csv")

  def write(rel: SparseRel, path: String, rangePartitions: Int = 0,
      format: String = "parquet"): Unit = {
    require(Formats.contains(format), s"unsupported format: $format")
    val out =
      if (rangePartitions > 0)
        rel.df.repartitionByRange(rangePartitions, rel.indexCols.map(col): _*)
          .sortWithinPartitions(rel.indexCols.map(col): _*)
      else rel.df
    out.write.mode("overwrite")
      .format(format)
      .options(if (format == "csv") Map("header" -> "true") else Map.empty[String, String])
      .save(s"$path/data")
    // a Deferred universe stays DISTRIBUTED through persistence: its
    // dims relation is written as parquet next to the data, never
    // collected into the sidecar — an event-scan lexicon can hold
    // millions of labels, and inlining it would OOM the driver at the
    // exact scale the deferred shape exists for. Explicit universes
    // (small by definition, order-bearing) stay inline.
    val inlineLabels = rel.universe match {
      case ColUniverse.Explicit(labels) => labels
      case d: ColUniverse.Deferred =>
        // dims(...) not dimsDf: assign-appended labels must persist too
        // (their append-last ordering is not round-tripped — a reread
        // Deferred materializes sorted, like any scanned lexicon)
        d.dims(rel.df.sparkSession).write.mode("overwrite").parquet(s"$path/dims")
        Seq.empty[String]
    }
    val meta = mapper.writeValueAsString(Map(
      "indexCols" -> rel.indexCols,
      "columnUniverse" -> inlineLabels,
      "universeKind" -> (rel.universe match {
        case _: ColUniverse.Explicit => "explicit"
        case _ => "deferred"
      }),
      "format" -> format,
      "schema" -> rel.df.schema.json))
    val stream = fs(rel.df.sparkSession, path)
      .create(new Path(path, META), true)
    try stream.write(meta.getBytes(StandardCharsets.UTF_8))
    finally stream.close()
  }

  def read(spark: SparkSession, path: String): SparseRel = {
    val in = fs(spark, path).open(new Path(path, META))
    val meta =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val node = mapper.readTree(meta)
    def strings(field: String): Seq[String] = {
      val arr = node.get(field)
      require(arr != null && arr.isArray, s"missing $field in sparse meta")
      (0 until arr.size()).map(arr.get(_).asText())
    }
    // format/schema fields are optional for metadata written by older
    // versions (parquet-only layout). Parquet takes its schema from a
    // footer (ParquetCompact.open), so it starts no inference job and
    // needs no sidecar schema.
    val format = Option(node.get("format")).map(_.asText()).getOrElse("parquet")
    val reader = spark.read.format(format)
    val withSchema = Option(node.get("schema")).map(_.asText()) match {
      case Some(json) if format == "csv" || format == "json" =>
        reader.schema(
          org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      case _ => reader
    }
    // universeKind is optional for metadata written by older versions
    // (always-inline layout)
    val universe =
      if (Option(node.get("universeKind")).exists(_.asText() == "deferred"))
        new ColUniverse.Deferred(ParquetCompact.open(spark, s"$path/dims"))
      else ColUniverse.Explicit(strings("columnUniverse"))
    SparseRel(
      if (format == "parquet") ParquetCompact.open(spark, s"$path/data")
      else withSchema
        .options(if (format == "csv") Map("header" -> "true") else Map.empty[String, String])
        .load(s"$path/data"),
      strings("indexCols"),
      universe)
  }
}
