package graft.util

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.{LatencySink, Sentence, WordCount, WordCountPipeline}
import graft.table.GraftTable

/** The engine's local write paths start no child process. Without
  * native Hadoop IO, Hadoop's own `file` connector forks `chmod` after
  * every create and mkdir and `readlink` before every `FileContext`
  * rename; [[NioLocalFileSystem]] does neither. The spec records JFR's
  * `jdk.ProcessStart` around a checkpointed word count (offset log,
  * state deltas, commit log) and a graft table's create, append and
  * keyed merge (parquet writers, commit protocol, TableIO, SlotIO), and
  * finds no process started from `org.apache.hadoop.util.Shell`. */
class LocalWriteForkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** `body`'s process starts, each as its stack's class names */
  private def processStarts(body: => Unit): Seq[Seq[String]] = {
    // Shell's class init probes `setsid` once per JVM: not a write path
    org.apache.hadoop.util.Shell.WINDOWS
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.map { e: RecordedEvent =>
        e.getStackTrace.getFrames.asScala.toSeq.map(_.getMethod.getType.getName)
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def assertNoShellForks(starts: Seq[Seq[String]]): Unit = {
    val shell = starts.filter(_.contains("org.apache.hadoop.util.Shell"))
    assert(shell.size === 0, s"Shell process starts (of ${starts.size} in all); the first:\n" +
      shell.headOption.getOrElse(Nil).take(20).mkString("\n"))
  }

  test("the recording sees a process start") {
    val starts = processStarts(new ProcessBuilder("true").start().waitFor())
    assert(starts.nonEmpty)
    assertNoShellForks(starts)
  }

  test("three checkpointed micro-batches of the stateful word count fork nothing") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Sentence]
    val sink = new LatencySink(sinkId = 0, samplePeriod = 1)
    val starts = processStarts {
      val q = WordCountPipeline.statefulCounts(WordCountPipeline.tokenize(ms.toDS()))
        .writeStream.outputMode("append")
        .foreachBatch((b: Dataset[WordCount], id: Long) => sink(b, id))
        .option("checkpointLocation", Scratch.dir("graft-forks-ckpt"))
        .start()
      try Seq("a b a", "b c", "c a d").zipWithIndex.foreach { case (s, i) =>
        ms.addData(Sentence(1000L + i, s, 0))
        q.processAllAvailable()
      } finally q.stop()
      assert(q.lastProgress.batchId === 2L)
    }
    assertNoShellForks(starts)
  }

  test("a graft table's create, append and keyed merge fork nothing") {
    import spark.implicits._
    def rows(ks: Seq[Long]) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    val root = Scratch.dir("graft-forks-table")
    val starts = processStarts {
      val t = GraftTable.create(spark, root, "k",
        rows(1L to 40L).repartitionByRange(4, col("k")).sortWithinPartitions("k"))
      t.append(rows(41L to 50L))
      t.merge(Seq((2L, "U2"), (60L, "NEW")).toDF("k", "v"))
      assert(t.count() === 51L)
    }
    assertNoShellForks(starts)
  }
}
