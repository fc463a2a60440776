package graft.localfs

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager}

/** A session built with `GraftExtensions` reaches the fork-free local file
  * system for `file:` through both Hadoop APIs, and explicit settings win.
  * `FileSystem.newInstance`, not `get`: the JVM-wide cache would make the
  * answer depend on which spec ran first. */
class LocalFsWiringSpec extends SparkSpec {

  private val local = URI.create("file:///")

  test("the session's Hadoop conf resolves file: to the graft classes") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.newInstance(local, conf)
    try assert(fs.getClass == classOf[GraftLocalFileSystem]) finally fs.close()
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .getClass == classOf[GraftLocalFs])
  }

  test("an explicit setting keeps its class") {
    spark // the registration has run
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val fs = FileSystem.newInstance(local, conf)
    try assert(fs.getClass == classOf[LocalFileSystem]) finally fs.close()
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem
      .getClass == classOf[LocalFs])
  }

  test("Spark's checkpoint file manager writes through the graft AbstractFileSystem") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val mgr = CheckpointFileManager.create(new Path(s"file:$dir"),
      spark.sessionState.newHadoopConf())
    // the manager's FileContext is private; its class is the witness
    val fc = classOf[AbstractFileContextBasedCheckpointFileManager].getDeclaredField("fc")
    fc.setAccessible(true)
    assert(fc.get(mgr).asInstanceOf[FileContext].getDefaultFileSystem
      .getClass == classOf[GraftLocalFs])
    mgr.mkdirs(new Path(s"file:$dir/offsets"))
    for (body <- Seq("v1", "v2")) {
      val out = mgr.createAtomic(new Path(s"file:$dir/offsets/0"), overwriteIfPossible = true)
      out.write(body.getBytes(UTF_8))
      out.close()
    }
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/offsets/0")), UTF_8) == "v2")
    assert(Files.exists(Paths.get(s"$dir/offsets/.0.crc")))
    assert(Files.list(Paths.get(s"$dir/offsets")).count() == 2) // no temp file left
  }
}
