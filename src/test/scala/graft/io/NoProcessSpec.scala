package graft.io

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSessionTestWrapper, TempDirs}
import graft.pipeline.{LinkagePipeline, RepoFiles}
import graft.streaming.StreamingDriverQueries

/** The engine's own local writes start no operating-system process: no
  * `chmod` per created file or directory, no `ls -ld` per listed file and
  * no `readlink` per checkpoint rename. Each test records the JVM's
  * `jdk.ProcessStart` events while it runs and counts the commands that
  * name the directory the engine wrote.
  */
class NoProcessSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSessionTestWrapper.spark

  /** The command line of every process the JVM started while `body` ran. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      val file = Paths.get(tempDir("graft-jfr"), "process-start.jfr")
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally recording.close()
  }

  private def assertNoneName(dir: String, commands: Seq[String]): Unit = {
    val named = commands.filter(_.contains(dir))
    assert(named.isEmpty, s"${named.size} processes name $dir, e.g. ${named.take(3)}")
  }

  test("a durable pipeline run starts no process on its TableIO root") {
    val files = RepoFiles.generate(spark, nFiles = 200, seed = 7L)
    val root = tempDir("graft-noproc-pipe")
    val commands = processesStartedBy {
      new LinkagePipeline(spark, new TableIO(spark, root)).run(files).count()
    }
    assert(new TableIO(spark, root).isCommitted("resolved"))
    assertNoneName(root, commands)
  }

  test("a partitioned stage commit starts no process on its TableIO root") {
    import spark.implicits._
    val root = tempDir("graft-noproc-stage")
    val commands = processesStartedBy {
      new TableIO(spark, root).stage("by_lang", partitionBy = Seq("lang")) {
        Seq((1L, "scala"), (2L, "java"), (3L, "scala")).toDF("id", "lang")
      }.count()
    }
    assertNoneName(root, commands)
  }

  test("a streaming fixture run starts no process on its checkpoint") {
    val commands = processesStartedBy {
      StreamingDriverQueries.dedup(spark).collect()
    }
    assertNoneName("graft_ckpt_", commands)
    assert(spark.conf.getOption("fs.file.impl").isEmpty,
      "the fixture's filesystem settings reached the caller's session")
  }
}
