package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSuite.Sf0001
import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The feeds' fixed cost: checkpoint files without Hadoop's shell
  * fallback, and a warm run that compiles no generated class. */
class FeedsSpec extends SparkSuite {

  private def local(): (java.nio.file.Path, CheckpointFileManager) = {
    val dir = Files.createTempDirectory("ckfm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration()))
  }
  private def names(dir: java.nio.file.Path): Set[String] = dir.toFile.list().toSet
  private def write(m: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  test("checkpoint manager: an atomic create is visible only after close, " +
      "with its .crc") {
    val (dir, m) = local()
    val f = new Path(dir.resolve("1").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("one".getBytes(UTF_8))
    assert(!m.exists(f))
    assert(!names(dir).contains("1"))
    out.close()
    assert(m.exists(f))
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "one")
    assert(names(dir) == Set("1", ".1.crc"))
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSeq == Seq("1"))
  }

  test("checkpoint manager: cancel leaves no file") {
    val (dir, m) = local()
    val f = new Path(dir.resolve("1").toUri)
    val out = m.createAtomic(f, overwriteIfPossible = false)
    out.write("one".getBytes(UTF_8))
    out.cancel()
    assert(!m.exists(f))
    assert(names(dir).isEmpty, names(dir))
  }

  test("checkpoint manager: no-overwrite onto an existing file throws " +
      "FileAlreadyExistsException and keeps the file") {
    val (dir, m) = local()
    val f = new Path(dir.resolve("1").toUri)
    write(m, f, "one", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, f, "two", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "one")
    write(m, f, "three", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) == "three")
  }

  test("checkpoint manager: file: paths get the local manager, others " +
      "Spark's default") {
    val conf = new Configuration()
    conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    // a scheme with a FileSystem but no FileContext binding
    conf.set("fs.graftmock.impl", classOf[RawLocalFileSystem].getName)
    def delegateOf(p: Path) = CheckpointFileManager.create(p, conf) match {
      case m: LocalCheckpointFileManager => m.delegate
      case other => fail(s"installed manager not used: ${other.getClass}")
    }
    val dir = Files.createTempDirectory("ckfm")
    assert(delegateOf(new Path(dir.toUri))
      .isInstanceOf[LocalCheckpointFileManager.Local])
    assert(delegateOf(new Path(dir.toString))
      .isInstanceOf[LocalCheckpointFileManager.Local])
    val other = new Path("graftmock:///ck")
    val plain = new Configuration(conf)
    plain.unset(LocalCheckpointFileManager.ConfKey)
    assert(delegateOf(other).getClass ==
      CheckpointFileManager.create(other, plain).getClass)
  }

  test("a warm feed run starts no process from Hadoop's file system") {
    def run(): Unit = SparkEntry.queries("stream_sessionize_feed")(spark, Sf0001)
      .collect(): Unit
    run()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try run() finally rec.stop()
    val f = Files.createTempFile("feed", ".jfr")
    rec.dump(f)
    rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop"))))
      .map(_.getString("command"))
    Files.delete(f)
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  test("a feed run twice on one session compiles no class the second time") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): Unit = SparkEntry.queries("stream_sessionize_feed")(spark, Sf0001)
      .collect(): Unit
    run()
    val c0 = compiles
    run()
    assert(compiles - c0 == 0)
  }

  test("streaming sources read the session's schema, never infer their own") {
    // every main source, batch operators included (stream_freq_feed
    // builds its stream in TextOps), matched over the whole file text
    // so a call split across lines is caught too
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source dir $root")
    val inference = """\.parquet\([^)]*\)\s*\.schema\b""".r
    val files = Files.walk(root)
    val offenders = try for {
      f <- files.iterator.asScala.toSeq if f.toString.endsWith(".scala")
      text = Files.readString(f)
      m <- inference.findAllMatchIn(text)
    } yield s"${root.relativize(f)}:${text.take(m.start).count(_ == '\n') + 1}: " +
      m.matched.replaceAll("\\s+", " ")
    finally files.close()
    assert(offenders.isEmpty,
      "take a stream's schema from Feeds.source / Tables.schema:\n" +
        offenders.mkString("\n"))
  }
}
