package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("vector dot / norm / cosine on known values") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(
        VF.dot(VF.toDouble($"a"), VF.toDouble($"b")).as("dot"),
        VF.l2Norm(VF.toDouble($"a")).as("na"),
        VF.cosine($"a", $"b").as("cos"),
        VF.sqDist($"a", $"b").as("d2"))
    val r = df.collect().head
    assert(math.abs(r.getDouble(0) - 32.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(math.abs(r.getDouble(3) - 27.0) < 1e-12)
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
      .select(VF.cosine($"a", $"b").as("same"), VF.cosine($"a", $"c").as("orth"))
    val r = df.collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("shingles: 3-grams of a 5-word doc, short docs fall back to whole doc") {
    val df = Seq("a b c d e", "x y").toDF("text")
      .select(TF.shingles($"text", 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toSet)
    assert(rows(0) == Set("a b c", "b c d", "c d e"))
    assert(rows(1) == Set("x y"))
  }

  test("jaccard on token sets") {
    val df = Seq(("a b c d", "c d e f"), ("a b", "a b"), ("a", "b"))
      .toDF("x", "y")
      .select(TF.jaccard(TF.tokenSet($"x"), TF.tokenSet($"y")).as("j"))
    val js = df.collect().map(_.getDouble(0))
    assert(math.abs(js(0) - 2.0 / 6.0) < 1e-12)
    assert(js(1) == 1.0)
    assert(js(2) == 0.0)
  }

  test("minhash signature: right length, identical docs get identical sigs, " +
    "signature similarity tracks jaccard") {
    val df = Seq("a b c d e f g h", "a b c d e f g h", "q r s t u v w x")
      .toDF("text")
      .select(TF.minhashSignature(TF.shingles($"text", 3), 16).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.size == 16))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("band keys: identical signatures collide on every band") {
    val df = Seq("a b c d e f", "a b c d e f").toDF("text")
      .select(TF.bandKeys(TF.minhashSignature(TF.shingles($"text", 3), 16), 8, 2).as("bk"))
    val kk = df.collect().map(_.getSeq[org.apache.spark.sql.Row](0))
    assert(kk(0) == kk(1))
    assert(kk(0).map(_.getInt(0)).toSet.size == 8)
  }

  test("doc fingerprint is order-sensitive and deterministic") {
    val df = Seq("a b c", "a b c", "c b a").toDF("text")
      .select(TF.docFingerprint($"text").as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("simhash bit vote extracts the addressed bit") {
    val df = Seq((5L, 0), (5L, 1), (5L, 2)).toDF("h", "bit")
      .select(TF.bitVote($"h", $"bit").as("v"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L, -1L, 1L))
  }
}
