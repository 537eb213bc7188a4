package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * engine as opaque `binary` columns next to typed metadata, exactly like a
  * production training-data pipeline (the codec libraries are NOT bundled in
  * this environment, so the decode kernel is a clearly-marked deterministic
  * stub — the Spark-side plumbing (schema, batching, partition shape) is real).
  *
  * Scale notes: blobs never pass through a shuffle here — metadata extraction
  * is a map-only `mapPartitions` pass, so the plan stays one stage reading
  * parquet → project. When a downstream join is needed, join on the compact
  * metadata/fingerprint columns and only re-attach blobs afterward.
  */
object Multimodal {

  // one digest per executor thread, reset per use — a per-row
  // getInstance() is harmless at spec scale but measurable per billion
  // blobs (same pattern as StableHash60's codegen'd digest)
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("media_type", StringType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("fingerprint", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Wrap a text/blob-bearing table into the canonical media frame (for the
    * test corpus we synthesize payloads from the document text bytes).
    */
  def asMedia(docs: DataFrame, idCol: String, payloadCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      lit("image/fake").as("media_type"))

  /** STUB decode kernel: a real deployment would decode image dimensions /
    * audio duration / video frames here (e.g. via a JNI codec or a vectorized
    * Python worker). This stand-in derives deterministic fake dimensions from
    * the payload length so the full pipeline is testable end-to-end.
    */
  private def stubDecode(payload: Array[Byte]): (Int, Int) = {
    val n = if (payload == null) 0 else payload.length
    (320 + (n % 320), 240 + (n % 240))
  }

  /** Batched metadata/feature extraction over the binary column. Runs as a
    * single map-only stage; one iterator pass per partition, no driver
    * collection. This mirrors the `mapInPandas`/Arrow-batch shape a PySpark
    * decode UDF would have: partition-at-a-time, row-streaming.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select(col("media_id"), col("payload"), col("media_type"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val (w, h) = stubDecode(payload)
          val nBytes = if (payload == null) 0L else payload.length.toLong
          val fp = if (payload == null) null
            else {
              val d = digests.get(); d.reset()
              d.digest(payload).map("%02x".format(_)).mkString
            }
          Row(r.getAs[Long]("media_id"), r.getAs[String]("media_type"), nBytes, fp, w, h)
        }
      }(enc)
  }

  /** Declarative (codegen-friendly) variant of the metadata pass for engines
    * where the kernel is expressible as columns — preferred when no native
    * decode is required. Bit-identical to extractFeatures on the stub path.
    */
  def extractFeaturesSql(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("media_type"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("fingerprint"),
      (lit(320) + pmod(length(col("payload")), lit(320))).cast("int").as("width"),
      (lit(240) + pmod(length(col("payload")), lit(240))).cast("int").as("height"))
}
