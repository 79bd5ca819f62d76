package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("stub decoder: deterministic features, schema intact") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val feats = Multimodal.extractFeatures(media, new Multimodal.StubDecoder(16), partitions = 4)
      .collect().sortBy(_.media_id)
    assert(feats.length == 30)
    assert(feats.forall(_.feature.length == 16))
    assert(feats.forall(f => f.n_bytes > 0 && f.width >= 64 && f.height >= 64))
    assert(feats.filter(_.modality == "image").forall(_.duration_ms == 0))
    assert(feats.filter(_.modality != "image").forall(_.duration_ms > 0))
    // determinism at different partitioning
    val feats2 = Multimodal.extractFeatures(media, new Multimodal.StubDecoder(16), partitions = 7)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.content_sha).toSeq == feats2.map(_.content_sha).toSeq)
    assert(feats.map(_.feature.toSeq).toSeq == feats2.map(_.feature.toSeq).toSeq)
  }
}
