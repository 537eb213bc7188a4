package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("kernel (mapPartitions) and declarative feature extraction agree bit-for-bit") {
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val a = Multimodal.extractFeatures(media).orderBy("media_id").collect().toSeq
    val b = Multimodal.extractFeaturesSql(media).orderBy("media_id").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("features carry md5 fingerprint and byte length of the payload") {
    val media = Seq((1L, "abc")).toDF("doc_id", "text")
    val row = Multimodal.extractFeaturesSql(Multimodal.asMedia(media, "doc_id", "text")).head()
    assert(row.getAs[Long]("n_bytes") == 3L)
    assert(row.getAs[String]("fingerprint") == "900150983cd24fb0d6963f7d28e17f72")
    assert(row.getAs[Int]("width") == 323 && row.getAs[Int]("height") == 243)
  }
}
