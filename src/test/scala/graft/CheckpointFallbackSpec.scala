package graft

import java.nio.file.{Files, Paths}

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.lake.VersionedTable

/** The log alone is a complete record: a checkpoint that cannot be opened
  * costs replay time, never state. Replay skips it with one warning per
  * handle naming the file.
  */
class CheckpointFallbackSpec extends SparkSpec {
  import spark.implicits._

  /** Warnings `graft.lake.VersionedTable` logs while `body` runs. */
  private def warningsDuring(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(classOf[VersionedTable]).asInstanceOf[Logger]
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("checkpoint-fallback", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.synchronized {
        seen += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.synchronized(seen.toList)
  }

  test("an unopenable checkpoint falls back to full log replay, loudly") {
    val path = tmpDir("cpfallback") + "/t"
    val vt = VersionedTable(spark, path, Seq("id"), Seq("p"), checkpointInterval = 3)
    vt.overwrite((1 to 6).map(i => (i, i % 2, s"a$i", i * 10)).toDF("id", "p", "a", "b")) // v1
    vt.setProperties(Map("owner" -> "ops"))                               // v2
    vt.addConstraint("b_pos", "b > 0")                                    // v3, checkpoint
    vt.dropColumn("a")                                                    // v4
    vt.append(Seq((7, 1, 70)).toDF("id", "p", "b"))                       // v5
    val cp = Paths.get(path, "_log", "v00003.checkpoint")
    assert(Files.isRegularFile(cp))
    // a directory under the checkpoint's name: listed, but fs.open refuses it
    Files.delete(cp)
    Files.createDirectory(cp)

    val fresh = VersionedTable(spark, path, Seq("id"), Seq("p"), checkpointInterval = 3)
    val warnings = warningsDuring {
      assert(fresh.read.orderBy("id").collect().toSeq ==
        vt.read.orderBy("id").collect().toSeq)
      assert(fresh.properties == vt.properties)
      assert(fresh.constraints == Map("b_pos" -> "b > 0"))
      assert(fresh.snapshotAt(5).dropped == vt.snapshotAt(5).dropped)
      assert(fresh.snapshotAt(5).dropped == Set("a"))
      assert(fresh.tableSchema.fieldNames.toSeq == Seq("id", "p", "b"))
      // earlier versions resolve through the same fallback
      assert(fresh.propertiesAsOfVersion(3) == Map("owner" -> "ops"))
    }
    // every entry was replayed: the checkpoint was skipped, not half-read
    assert(fresh.logReads == 5)
    val named = warnings.filter(_.contains("v00003.checkpoint"))
    assert(named.size == 1, s"warnings: $warnings")
  }
}
