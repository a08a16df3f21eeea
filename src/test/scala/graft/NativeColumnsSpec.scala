package graft

import graft.functions.{NativeExpressions => NX}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native kernels are built as Columns, never looked up by name: they
  * must resolve in a `newSession()` child, whose function registry holds
  * nothing of the engine's.
  */
class NativeColumnsSpec extends AnyFunSuite {

  test("typed kernel columns resolve in a brand-new child session") {
    val fresh = SparkTestSession.spark.newSession()
    assert(!fresh.catalog.functionExists("graft_dot"),
      "no kernel may be registered by name")
    def one(c: org.apache.spark.sql.Column) =
      fresh.range(1).select(c).collect().head
    def longs(xs: Long*) = array(xs.map(lit(_)): _*)
    def strs(xs: String*) = array(xs.map(lit(_)): _*)
    assert(one(NX.dot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))))
      .getDouble(0) == 11.0)
    assert(one(NX.isect(longs(1L, 2L, 5L), longs(2L, 3L, 5L))).getLong(0) == 2L)
    assert(one(NX.maskIsect(NX.mask(longs(0L, 3L, 70L), 2),
      NX.mask(longs(3L, 70L, 100L), 2))).getLong(0) == 2L)
    assert(one(size(NX.minhash(longs(42L, 7L), 16))).getInt(0) == 16)
    assert(one(NX.bigrams(strs("a", "b", "a", "b"))).getSeq[String](0) ==
      Seq("a b", "b a"))
    assert(one(size(NX.shingles(strs("a", "b", "c", "d"), 3))).getInt(0) == 2)
    assert(one(size(NX.bands(NX.minhash(longs(42L, 7L), 16), 8))).getInt(0) == 8)
    assert(one(NX.simhash(longs(5L))).getLong(0) == 5L,
      "simhash of a single hash is that hash's bits")
    assert(one(NX.shingleStrings(strs("a", "b", "a", "b"), 2)).getSeq[String](0) ==
      Seq("a b", "b a"))
  }
}
