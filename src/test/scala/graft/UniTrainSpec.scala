package graft

/** Invariant test of the full unigram-LM trainer (TextOps.uniTrain) on a
  * synthetic word vocabulary — the trainer-level complement to
  * UniSegSpec's pure-DP properties, driving the SHIPPED code end to end
  * (pinned seed — deterministic, no flaky CI):
  *
  *  1. char coverage: every single character occurring in the corpus
  *     survives to the final model (the never-pruned guarantee that keeps
  *     every word segmentable);
  *  2. the prune bound holds: ≤ UniFinal multi-char survivors;
  *  3. usage accounting: the returned per-piece usage rows re-derive
  *     EXACTLY from segmenting the vocabulary with the returned cost map
  *     (rows and map cannot drift apart);
  *  4. the output is sorted by piece and keys match the cost map.
  */
class UniTrainSpec extends SparkSpec {
  import spark.implicits._

  test("trainer invariants: char coverage, prune bound, usage accounting") {
    val rnd = new scala.util.Random(7L)
    val alpha = "abcdef"
    // 48 distinct 6-8-char words over a 6-letter alphabet: >64 distinct
    // multi-char substrings, so the UniInit seed cut binds as in prod
    val words = (1 to 48).map { i =>
      (Seq.fill(6 + rnd.nextInt(3))(alpha(rnd.nextInt(alpha.length))).mkString,
        (1 + rnd.nextInt(20)).toLong)
    }.distinctBy(_._1)
    val vocab = words.toDF("w0", "freq")
    val (rows, cost) = graft.ext.TextOps.uniTrain(vocab)

    // 1. char coverage
    val corpusChars = words.map(_._1).mkString.toSet.map((c: Char) => c.toString)
    val modelPieces = rows.map(_._1).toSet
    assert(corpusChars.subsetOf(modelPieces),
      s"missing chars: ${corpusChars -- modelPieces}")

    // 2. prune bound
    assert(rows.count(_._1.length > 1) <= 32,
      "more multi-char survivors than UniFinal")

    // 3. usage re-derivation from the returned cost map
    val expected = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      graft.ext.TextOps.uniSegment(w, cost)._2.foreach { p =>
        expected(p) = expected.getOrElse(p, 0L) + f
      }
    }
    rows.foreach { case (p, u, _) =>
      assert(u == expected.getOrElse(p, 0L),
        s"usage drift on '$p': returned $u, re-derived ${expected.getOrElse(p, 0L)}")
    }
    assert(expected.keySet.subsetOf(modelPieces),
      "a segmentation used a piece outside the final model")

    // 4. ordering + key agreement
    assert(rows.map(_._1) == rows.map(_._1).sorted, "rows not sorted by piece")
    assert(rows.map(_._1).toSet == cost.keySet, "rows/cost-map key mismatch")
  }
}
