package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.streaming.Streaming
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the session defaults of [[Engine.configure]]: the ones that
 *  keep whole-stage codegen warm across micro-batch queries (a streaming
 *  query runs in a cloned session, and with Spark's default artifact
 *  isolation each clone gets its own classloader, so every re-run of an
 *  unchanged query compiled all of its classes again), and the shell-free
 *  `file:` filesystem ([[NioRawLocalFileSystem]]) with its parity against
 *  Hadoop's stock one. */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Engine.local sessions turn artifact isolation off and size the " +
    "codegen cache for the working set") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512")
  }

  private val fileUri = URI.create("file:///")

  /** A two-file `(k, v)` parquet feed in `dir/in`. */
  private def writeFeed(dir: String): Unit = {
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    Seq(("b", 4L), ("c", 5L)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
  }

  /** Running counts over the feed of `dir`, one file per trigger, with
   *  checkpoint and output under `dir/tag` (a new tag is a new query). */
  private def runningCounts(dir: String, tag: String): Map[String, Long] =
    Streaming.runUpdateStreamFiles(spark, s"$dir/in", spark.read.parquet(s"$dir/in").schema,
      df => Streaming.runningCount(df.as[(String, Long)]).toDF(),
      dir = s"$dir/$tag", statePartitions = Some(2),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .groupBy("key").agg(max(col("count")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("re-running a stateful micro-batch query compiles no new classes " +
    "and gives the same result") {
    val dir = TestSpark.tempDir("graft_engine_warm")
    writeFeed(dir)
    val first = runningCounts(dir, "run1")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = runningCounts(dir, "run2")
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(first == Map("a" -> 4L, "b" -> 6L, "c" -> 5L))
    assert(second == first)
    assert(added == 0, s"the second run compiled $added classes")
  }

  test("graft sessions resolve file: to the shell-free filesystem") {
    for (hconf <- Seq(spark.sparkContext.hadoopConfiguration,
                      spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(fileUri, hconf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(hconf).getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(hconf).getRaw.getClass == classOf[NioRawLocalFileSystem])
      assert(AbstractFileSystem.get(fileUri, hconf).getClass == classOf[NioLocalFs])
    }
  }

  test("local file operations, a RocksDB stateful stream among them, " +
    "start no process through Hadoop's Shell") {
    val dir = TestSpark.tempDir("graft_engine_nofork")
    writeFeed(dir)
    val hconf = spark.sessionState.newHadoopConf()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val counts = try {
      // a process the recording must see: the zero below is not vacuous
      new ProcessBuilder("true").start().waitFor()
      val fs = FileSystem.get(fileUri, hconf)
      val base = new Path(s"file:$dir/fs")
      assert(fs.mkdirs(new Path(base, "a/b")))
      val o = fs.create(new Path(base, "a/f")); o.write(1); o.close()
      assert(fs.rename(new Path(base, "a/f"), new Path(base, "a/b/g")))
      val fc = FileContext.getFileContext(fileUri, hconf)
      val flags = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
      for (n <- Seq("x", "y")) {
        val out = fc.create(new Path(base, s"c/$n"), flags,
          Options.CreateOpts.createParent())
        out.write(n.getBytes); out.close()
      }
      fc.rename(new Path(base, "c/x"), new Path(base, "c/y"), Options.Rename.OVERWRITE)
      assert(new String(Files.readAllBytes(Paths.get(s"$dir/fs/c/y"))) == "x")
      Streaming.withRocksDbStateStore(spark)(runningCounts(dir, "run"))
    } finally rec.stop()
    assert(counts == Map("a" -> 4L, "b" -> 6L, "c" -> 5L))
    val jfr = Files.createTempFile("graft_engine_nofork", ".jfr")
    val events = try { rec.dump(jfr); RecordingFile.readAllEvents(jfr).asScala }
      finally { rec.close(); Files.delete(jfr) }
    val starts = events.filter(_.getEventType.getName == "jdk.ProcessStart")
    assert(starts.exists(_.getString("command") == "true"))
    val viaShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
    assert(viaShell.isEmpty,
      s"${viaShell.size} forks through Shell: ${viaShell.map(_.getString("command")).distinct}")
  }

  /** Each of stock and shell-free: a fresh checksummed `FileSystem` (no
   *  cache) and `FileContext` under `umask`. */
  private def bothFileSystems(umask: String): Seq[(String, FileSystem, FileContext)] =
    Seq("stock" -> (classOf[RawLocalFileSystem], "org.apache.hadoop.fs.local.LocalFs"),
        "nio" -> (classOf[NioRawLocalFileSystem], classOf[NioLocalFs].getName)).map {
      case (name, (raw, afs)) =>
        val conf = new Configuration(false)
        conf.set("fs.permissions.umask-mode", umask)
        conf.set("fs.AbstractFileSystem.file.impl", afs)
        val fs = new LocalFileSystem(raw.getDeclaredConstructor().newInstance())
        fs.initialize(fileUri, conf)
        (name, fs, FileContext.getFileContext(AbstractFileSystem.get(fileUri, conf), conf))
    }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("NioRawLocalFileSystem gives the stock modes after create, mkdirs " +
    "and setPermission (sticky and setgid included)") {
    val dir = TestSpark.tempDir("graft_engine_modes")
    for (umask <- Seq("022", "027")) {
      val modes = bothFileSystems(umask).map { case (name, fs, fc) =>
        val base = s"$dir/$umask/$name"
        val q = (rel: String) => new Path(s"file:$base/$rel")
        fs.mkdirs(q("d/e"))
        fs.create(q("f")).close()
        fc.mkdir(q("cd/ce"), FsPermission.getDirDefault, true)
        fc.create(q("cf"), EnumSet.of(CreateFlag.CREATE)).close()
        // a setgid parent: the new directory inherits the bit, and the
        // chmod that follows mkdirs must keep it
        Files.createDirectories(Paths.get(s"$base/g"))
        Files.setAttribute(Paths.get(s"$base/g"), "unix:mode", Int.box(0x5ed)) // 02755
        fs.mkdirs(q("g/h"))
        for ((perm, i) <- Seq(0x180, 0x1e8, 0x3ff).zipWithIndex) { // 0600 0750 1777
          fs.create(q(s"p$i")).close()
          fs.mkdirs(q(s"pd$i"))
          fs.setPermission(q(s"p$i"), new FsPermission(perm.toShort))
          fs.setPermission(q(s"pd$i"), new FsPermission(perm.toShort))
          fs.setPermission(q("g/h"), new FsPermission(perm.toShort))
        }
        Seq("d", "d/e", "f", ".f.crc", "cd", "cd/ce", "cf", ".cf.crc", "g/h",
            "p0", "p1", "p2", "pd0", "pd1", "pd2").map(r => r -> mode(s"$base/$r"))
      }
      assert(modes(0) == modes(1), s"umask $umask")
      val m = modes(1).toMap
      assert((m("g/h") & 0x400) != 0, "setgid kept on the directory") // 02000
      assert(m("p2") == 0x3ff && m("pd2") == 0x3ff, "sticky bit set") // 01777
      assert(m("f") == (if (umask == "022") 0x1a4 else 0x1a0)) // 0644 / 0640
    }
  }

  test("NioRawLocalFileSystem.getFileLinkStatus equals the stock answer " +
    "for a file, a directory, a symlink and a missing path") {
    val dir = TestSpark.tempDir("graft_engine_links")
    Files.write(Paths.get(s"$dir/file"), Array.fill[Byte](7)(1))
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    def status(fs: FileSystem, p: Path): Either[Class[_], (Boolean, Boolean, Long)] =
      try {
        val st: FileStatus = fs.getFileLinkStatus(p)
        Right((st.isSymlink, st.isDirectory, st.getLen))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    val fss = bothFileSystems("022")
    // Hadoop callers pass qualified paths; a bare path reaches readlink
    for (name <- Seq("file", "dir", "link", "missing");
         p <- Seq(new Path(s"file:$dir/$name"), new Path(s"$dir/$name"))) {
      val Seq(stock, nio) = fss.map { case (_, fs, _) => status(fs, p) }
      assert(nio == stock, p)
      if (name == "missing") assert(nio.isLeft)
    }
    assert(status(fss(1)._2, new Path(s"$dir/link")) == Right((true, false, 7L)))
  }
}
