package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{LogEntry, Snapshot, TableLog}
import graft.lake.TableLog.enc

/** The log module without a session: generated commit-log entries that
  * touch every replayed field fold to the same [[Snapshot]] whether the
  * replay starts from the first entry or from a checkpoint written at any
  * cut point — the contract that lets a reader trust a checkpoint.
  * Generators run under pinned seeds, so a failure names its seed.
  */
class TableLogSpec extends AnyFunSuite {

  private def draw[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // names that need the URL encoding: blanks, tabs, newlines, '=', '%',
  // non-ASCII — plus the NUL-prefixed ANALYZE coverage marker
  private val names = Seq("a", "b", "c", "x y", "k=v", "t\tab", "new\nline",
    "%20", "ü", "\u0000analyzed:a")
  private val name = Gen.oneOf(names)
  private val value = Gen.oneOf("", "1", "id >= 0", "id * 2", "a\tb", "é=%")
  private val actions = Seq("overwrite", "compact", "restore", "clone", "fsck",
    "insert", "merge", "delete", "update", "compact_part", "delete_mor",
    "analyze", "constraint", "setproperties", "rename", "drop_column")

  /** Lines of entry `i`: its own version root's dirs, plus removes,
    * tombstones, metadata and stats drawn over small pools so they collide
    * with earlier entries' state.
    */
  private def entryLines(i: Int): Gen[Seq[String]] = {
    val part = Gen.oneOf("p=0", "p=1", "p=2/q=a")
    def dirOf(root: String) = part.map(p => s"$root/$p")
    val oldDir = Gen.choose(1, math.max(1, i)).flatMap(v => dirOf(f"v$v%05d_r"))
    for {
      action <- Gen.oneOf(actions)
      adds <- Gen.listOfN(3, dirOf(f"v$i%05d_r")).flatMap(Gen.someOf(_))
      removes <- Gen.listOfN(3, oldDir)
      nRemove <- Gen.choose(0, 3)
      dvAdds <- Gen.listOfN(2, dirOf(f"v$i%05d_dv")).flatMap(Gen.someOf(_))
      txn <- Gen.option(Gen.zip(Gen.oneOf("etl", "a b"), Gen.choose(0L, 20L)))
      cons <- Gen.listOf(Gen.zip(name, value)).map(_.take(2))
      consDrop <- Gen.listOf(name).map(_.take(2))
      gens <- Gen.listOf(Gen.zip(name, value)).map(_.take(2))
      gensDrop <- Gen.listOf(name).map(_.take(1))
      // a single rename, a swap set (x→y, y→x), or a rename back to an
      // earlier name — the atomic-rename rule's three shapes
      renames <- Gen.oneOf(
        Gen.const(Seq.empty[(String, String)]),
        Gen.zip(name, name).map(Seq(_)),
        Gen.zip(name, name).map { case (x, y) => Seq(x -> y, y -> x) })
      drops <- Gen.listOf(name).map(_.take(2))
      undrops <- Gen.listOf(name).map(_.take(1))
      sets <- Gen.listOf(Gen.zip(name, value)).map(_.take(3))
      unsets <- Gen.listOf(name).map(_.take(2))
      copied <- Gen.listOf(name.map(n => s"/src/$n.csv")).map(_.take(2))
      stats <- Gen.listOf(Gen.zip(oldDir, name, value, value)).map(_.take(3))
    } yield Seq(s"action=$action") ++
      adds.map("add=" + _) ++
      removes.take(nRemove).map("remove=" + _) ++
      dvAdds.map("dvadd=" + _) ++
      txn.map { case (a, v) => s"txn=${enc(a)}\t$v" } ++
      cons.map { case (n, e) => s"constraint=${enc(n)}\t${enc(e)}" } ++
      consDrop.map(n => s"dropconstraint=${enc(n)}") ++
      gens.map { case (n, e) => s"gencol=${enc(n)}\t${enc(e)}" } ++
      gensDrop.map(n => s"dropgencol=${enc(n)}") ++
      renames.map { case (o, n) => s"rename=${enc(o)}\t${enc(n)}" } ++
      drops.map(n => s"dropcol=${enc(n)}") ++
      undrops.map(n => s"undropcol=${enc(n)}") ++
      sets.map { case (k, x) => s"setprop=${enc(k)}\t${enc(x)}" } ++
      unsets.map(k => s"unsetprop=${enc(k)}") ++
      copied.map(f => s"copied=${enc(f)}") ++
      stats.map { case (d, c, mn, mx) => s"stats=${enc(d)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}" }
  }

  private def logGen(n: Int): Gen[Seq[LogEntry]] =
    (1 to n).foldLeft(Gen.const(Vector.empty[LogEntry])) { (acc, i) =>
      acc.flatMap(es => entryLines(i).map(ls => es :+ LogEntry.parse(ls)))
    }

  private def fold(from: Snapshot, es: Seq[LogEntry]): Snapshot =
    es.foldLeft(from)(_.step(_))

  /** Write-then-read a checkpoint the way the table does: one file of
    * newline-joined lines, read back split on newlines.
    */
  private def viaFile(s: Snapshot): Snapshot =
    Snapshot.fromCheckpoint(s.checkpointLines.mkString("\n").split("\n").toSeq)

  test("∀ logs, ∀ cut points k: fold(all) == fold(checkpoint(fold(prefix k)), tail k)") {
    (1L to 40L).foreach { seed =>
      val log = draw(logGen(12), seed)
      val all = fold(Snapshot.empty, log)
      (0 to log.length).foreach { k =>
        val (prefix, tail) = log.splitAt(k)
        val cp = fold(Snapshot.empty, prefix)
        assert(viaFile(cp) == cp, s"seed=$seed k=$k: checkpoint round trip")
        assert(fold(viaFile(cp), tail) == all, s"seed=$seed k=$k")
      }
    }
  }

  test("the generated logs reach every replayed field") {
    val finals = (1L to 40L).map(seed => fold(Snapshot.empty, draw(logGen(12), seed)))
    val reached = Map[String, Snapshot => Boolean](
      "liveDirs" -> (_.liveDirs.nonEmpty), "dvDirs" -> (_.dvDirs.nonEmpty),
      "txnWatermarks" -> (_.txnWatermarks.nonEmpty),
      "constraints" -> (_.constraints.nonEmpty),
      "properties" -> (_.properties.nonEmpty),
      "copiedFiles" -> (_.copiedFiles.nonEmpty),
      "generatedCols" -> (_.generatedCols.nonEmpty),
      "colMap" -> (_.colMap.nonEmpty), "dropped" -> (_.dropped.nonEmpty),
      "analyzed" -> (_.analyzed.nonEmpty))
    reached.foreach { case (field, nonEmpty) =>
      assert(finals.exists(nonEmpty), s"no generated log sets $field")
    }
  }

  private def entry(lines: String*): LogEntry = LogEntry.parse(lines)

  test("tombstones: rewrites reset, appends keep, other commits kill the " +
      "restaged partitions'") {
    val s = fold(Snapshot.empty, Seq(
      entry("action=overwrite", "add=v00001_r/p=0", "add=v00001_r/p=1"),
      entry("action=delete_mor", "dvadd=v00002_dv/p=0", "dvadd=v00002_dv/p=1")))
    assert(s.dvDirs == Seq("v00002_dv/p=0", "v00002_dv/p=1"))
    assert(s.step(entry("action=insert", "add=v00003_r/p=0")).dvDirs == s.dvDirs)
    assert(s.step(entry("action=merge", "add=v00003_r/p=0")).dvDirs ==
      Seq("v00002_dv/p=1"))
    assert(s.step(entry("action=compact", "add=v00003_r/p=0")).dvDirs.isEmpty)
    assert(s.step(entry("action=restore", "dvadd=v00002_dv/p=1")).dvDirs ==
      Seq("v00002_dv/p=1"))
  }

  test("one entry's renames apply atomically; a rename back to identity " +
      "is not stored") {
    val s = Snapshot.empty.step(entry("action=rename", "rename=x\ty"))
    assert(s.colMap == Map("y" -> "x"))
    val swapped = s.step(entry("action=rename", "rename=y\tz", "rename=w\ty"))
    assert(swapped.colMap == Map("z" -> "x", "y" -> "w"))
    assert(s.step(entry("action=rename", "rename=y\tx")).colMap.isEmpty)
  }

  test("only ANALYZE commits overlay stats; txn watermarks only rise") {
    val s = fold(Snapshot.empty, Seq(
      entry("action=insert", "add=v00001_r/p=0", "stats=v00001_r%2Fp%3D0\tid\t1\t9",
        "txn=etl\t5"),
      entry("action=analyze", "stats=v00001_r%2Fp%3D0\ty\t2\t18"),
      entry("action=merge", "txn=etl\t3")))
    assert(s.analyzed == Map("v00001_r/p=0" -> Map("y" -> ("2", "18"))))
    assert(s.txnWatermarks == Map("etl" -> 5L))
  }

  test("enc/dec round-trip every name the log carries") {
    names.foreach(n => assert(TableLog.dec(enc(n)) == n))
    assert(!names.map(enc).exists(e => e.contains("\t") || e.contains("\n")))
  }
}
