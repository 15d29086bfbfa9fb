package graft

import graft.ext.TextOps

/** Sliding-window token chunking: window boundaries, overlap sharing, and
  * the fully-duplicated-trailing-window drop.
  */
class ChunkSpec extends SparkSpec {
  import spark.implicits._

  test("windows advance by size-overlap, share the overlap, and cover " +
      "every token exactly; short docs emit one window") {
    val df = Seq(
      (1L, (1 to 80).map(i => s"w$i").mkString(" ")),  // 80 tokens
      (2L, "a b c"),                                    // 3 tokens
      (3L, "")                                          // empty → dropped
    ).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(df, "text", chunkSize = 32, overlap = 8)
      .select("doc_id", "chunk_start", "chunk_ntok", "chunk_text")
      .as[(Long, Int, Int, String)].collect().sortBy(r => (r._1, r._2))
    // starts 1, 25, 49 — the start at 73 would cover tokens 73-80, all
    // already inside the window at 49 (49..80), so it is dropped
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(1, 25, 49))
    assert(d1.map(_._3).toSeq == Seq(32, 32, 32))
    // consecutive windows share exactly the 8-token overlap
    val w1 = d1(0)._4.split(" "); val w2 = d1(1)._4.split(" ")
    assert(w1.takeRight(8).toSeq == w2.take(8).toSeq)
    // full coverage, no token lost
    assert(d1.flatMap(_._4.split(" ")).distinct.length == 80)
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 1, 3, "a b c")))
    assert(!out.exists(_._1 == 3L))
  }

  test("a trailing start that would only re-cover the previous overlap is " +
      "dropped (no fully-duplicated suffix windows)") {
    // 56 tokens, size 32, stride 24: starts 1, 25, 49; window at 49 holds
    // 8 tokens — exactly the overlap already covered by the window at 25
    val df = Seq((1L, (1 to 56).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val starts = TextOps.chunkTokens(df, "text", 32, 8)
      .select("chunk_start").as[Int].collect().sorted.toSeq
    assert(starts == Seq(1, 25), s"got $starts")
    // and with no overlap every window stands
    val noOv = TextOps.chunkTokens(df, "text", 32, 0)
      .select("chunk_start").as[Int].collect().sorted.toSeq
    assert(noOv == Seq(1, 33))
  }
}
