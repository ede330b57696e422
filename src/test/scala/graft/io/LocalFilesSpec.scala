package graft.io

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `file:` resolves to [[LocalFiles]] in a builder session: writes,
  * commits and FileContext renames start no process, and every mode,
  * checksum and link status equals the stock local filesystem's. */
class LocalFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val LocalUri = URI.create("file:///")

  private def tmp(): String = Files.createTempDirectory("graft_localfiles").toString

  private def mode(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Hadoop confs that route `file:` back to the stock classes, uncached
    * so no earlier instance is reused. */
  private val Stock = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)

  private def hadoopConf(extra: Map[String, String]): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    extra.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  test("the builder session resolves file: to the graft classes, for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(LocalUri, conf).getClass == classOf[LocalFiles.Checksummed])
    assert(FileSystem.getLocal(conf).getRaw.getClass == classOf[LocalFiles])
    assert(AbstractFileSystem.get(LocalUri, conf).getClass == classOf[LocalFiles.Fs])
  }

  /** A partitioned parquet write, the CSV sink and a FileContext atomic
    * rename (a temp file moved over its target, as Spark's streaming logs
    * commit) under `root`, with `extra` set in the session and Hadoop
    * confs; returns the command lines of the processes they started. */
  private def fileWork(root: String, extra: Map[String, String]): Seq[String] = {
    val df = (1 to 40).map(i => (i, i % 4, s"v$i")).toDF("k", "b", "v")
    extra.foreach { case (k, v) => spark.conf.set(k, v) }
    try ProcessStarts.during {
      df.write.partitionBy("b").parquet(s"$root/pq")
      IoOps.writeCsv(df, s"$root/csv")
      val fc = FileContext.getFileContext(hadoopConf(extra))
      val tmpLog = new Path(s"$root/log/.0.tmp")
      val out = fc.create(tmpLog, java.util.EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try out.write("v1".getBytes(UTF_8)) finally out.close()
      fc.rename(tmpLog, new Path(s"$root/log/0"), Options.Rename.OVERWRITE)
    }._2
    finally extra.keys.foreach(spark.conf.unset)
  }

  test("a partitioned parquet write, the CSV sink and a FileContext rename start no process") {
    val root = tmp()
    val starts = fileWork(root, Map.empty)
    assert(starts.isEmpty, starts)
    assert(spark.read.parquet(s"$root/pq").count() == 40)
    assert(Files.readString(Paths.get(root, "log", "0")) == "v1")
    // control: through the stock classes the same calls fork both commands
    val stock = fileWork(tmp(), Stock)
    assert(stock.exists(_.startsWith("chmod")) && stock.exists(_.startsWith("readlink")), stock)
  }

  private def initialized(fs: FileSystem, umask: String): FileSystem = {
    val conf = hadoopConf(Map.empty)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(LocalUri, conf)
    fs
  }

  test("file and directory modes equal the stock class's under the same umask") {
    val byUmask = for (umask <- Seq("022", "077", "002")) yield {
      val modes = for (fs <- Seq(new LocalFiles.Checksummed, new LocalFileSystem)) yield {
        val root = tmp()
        initialized(fs, umask)
        def at(rel: String) = new Path(s"$root/$rel")
        fs.mkdirs(at("d/e"))
        fs.mkdirs(at("m"), mode("750"))
        fs.create(at("d/plain")).close()
        fs.create(at("d/given"), mode("640"), true, 4096, 1.toShort, 1L << 20, null).close()
        fs.create(at("d/set")).close()
        fs.setPermission(at("d/set"), mode("604"))
        val rels = Seq("d", "d/e", "m", "d/plain", "d/.plain.crc", "d/given", "d/.given.crc", "d/set")
        rels.map(r => r -> PosixFilePermissions.toString(
          Files.getPosixFilePermissions(Paths.get(root, r))))
      }
      assert(modes(0) == modes(1), s"umask $umask")
      modes(0)
    }
    assert(byUmask.distinct.size == 3, "the umask did not reach the modes")
  }

  test("sticky and setgid bits end as the stock class leaves them") {
    def unixMode(p: String) = Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff
    val modes = for (fs <- Seq(new LocalFiles.Checksummed, new LocalFileSystem)) yield {
      val root = tmp()
      initialized(fs, "022")
      // a group-shared directory: chmod keeps its setgid bit, and the
      // directories made in it inherit the bit
      assert(new ProcessBuilder("chmod", "2775", root).start().waitFor() == 0)
      fs.mkdirs(new Path(s"$root/sub"))
      fs.setPermission(new Path(root), mode("750"))
      fs.mkdirs(new Path(s"$root/shared"))
      fs.setPermission(new Path(s"$root/shared"), mode("1777"))
      val plain = tmp()
      fs.setPermission(new Path(plain), mode("1777"))
      Seq(root, s"$root/sub", s"$root/shared", plain).map(unixMode)
    }
    assert(modes(0) == modes(1))
    assert(modes(0).map(Integer.toOctalString) == Seq("2750", "2755", "3777", "1777"))
  }

  test("a corrupted byte still fails the checksum on read") {
    val root = tmp()
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$root/data.bin")
    val bytes = Array.tabulate[Byte](4000)(i => (i * 31).toByte)
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
    assert(Files.exists(Paths.get(root, ".data.bin.crc")))
    def readBack(): Array[Byte] = {
      val in = fs.open(p)
      try in.readNBytes(bytes.length) finally in.close()
    }
    assert(readBack().sameElements(bytes))
    val raf = new RandomAccessFile(s"$root/data.bin", "rw")
    try { raf.seek(1234); raf.write(bytes(1234) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](readBack())
  }

  test("getFileLinkStatus equals the stock class's on files, directories, symlinks and missing paths") {
    val root = Paths.get(tmp())
    Files.write(root.resolve("file"), "x".getBytes(UTF_8))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    def statuses(get: Path => org.apache.hadoop.fs.FileStatus): Seq[String] =
      names.map { n =>
        try get(new Path(root.resolve(n).toString)).toString
        catch { case e: FileNotFoundException => e.getClass.getName }
      }
    val graftRaw = initialized(new LocalFiles, "022")
    val stockRaw = initialized(new org.apache.hadoop.fs.RawLocalFileSystem, "022")
    val got = statuses(graftRaw.getFileLinkStatus)
    assert(got == statuses(stockRaw.getFileLinkStatus))
    assert(graftRaw.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    assert(got.last == classOf[FileNotFoundException].getName)
    // and through FileContext, over ChecksumFs and DelegateToFileSystem
    val graftFc = FileContext.getFileContext(hadoopConf(Map.empty))
    val stockFc = FileContext.getFileContext(hadoopConf(Stock))
    assert(statuses(graftFc.getFileLinkStatus) == statuses(stockFc.getFileLinkStatus))
  }
}
