package graft.io

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` file system ([[NioLocalFileSystem]], [[NioLocalFs]]):
  * every Hadoop conf in the JVM resolves to it, it leaves the same
  * permissions as Hadoop's stock `LocalFileSystem`, and it keeps the
  * checksum layer. Its one install point is the engine's classpath
  * `core-site.xml`. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")
  private val modes = Seq(0x1a4, 0x1ed, 0x1c0, 0x180, 0x1ff) // 0644 0755 0700 0600 0777
  private val sticky = 0x3ff                                 // 01777

  /** A file system outside the cache, so `conf` decides its class and umask. */
  private def uncached(umask: String, impl: Option[Class[_]] = None): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    impl.foreach(c => conf.set("fs.file.impl", c.getName))
    FileSystem.get(local, conf)
  }

  /** Every path under `root`, relative, to its permission bits (sticky included). */
  private def modesUnder(root: String): Map[String, Int] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString != root).map { p =>
      Paths.get(root).relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  /** Creates, makes and chmods one of each kind under `root` through `fs`. */
  private def exercise(fs: FileSystem, root: String): Unit = {
    fs.create(new Path(root, "f")).close()
    fs.mkdirs(new Path(root, "d/e"))
    fs.mkdirs(new Path(root, "dp"), new FsPermission(0x1e8.toShort)) // 0750
    fs.create(new Path(root, "fp"), new FsPermission(0x1a0.toShort), true, 4096, 1.toShort, 1L << 20, null).close() // 0640
    modes.foreach { m =>
      val f = new Path(root, f"f$m%o")
      fs.create(f).close()
      fs.setPermission(f, new FsPermission(m.toShort))
      val d = new Path(root, f"d$m%o")
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission(m.toShort))
    }
  }

  test("file: resolves to the NIO file system through FileSystem and FileContext, for a new conf and the session's") {
    for (conf <- Seq(new Configuration(), spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(FileSystem.get(local, conf).getClass === classOf[NioLocalFileSystem])
      val l = FileSystem.getLocal(conf)
      assert(l.getClass === classOf[NioLocalFileSystem])
      assert(l.getRaw.getClass === classOf[NioRawLocalFileSystem])
      assert(new Path(tmpDir("localfs-resolve")).getFileSystem(conf).getClass === classOf[NioLocalFileSystem])
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass === classOf[NioLocalFs])
      assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass === classOf[NioLocalFs])
    }
  }

  test("create, mkdirs and setPermission leave the stock LocalFileSystem's permissions, under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val nio = uncached(umask)
      val stock = uncached(umask, Some(classOf[LocalFileSystem]))
      try {
        assert(nio.getClass === classOf[NioLocalFileSystem])
        assert(stock.getClass === classOf[LocalFileSystem])
        val (a, b) = (tmpDir("localfs-stock"), tmpDir("localfs-nio"))
        exercise(stock, a)
        exercise(nio, b)
        val (want, got) = (modesUnder(a), modesUnder(b))
        assert(got === want, s"umask $umask")
        modes.foreach(m => assert(got(f"f$m%o") === m && got(f".f$m%o.crc") === m && got(f"d$m%o") === m))
        assert(got("f") === (if (umask == "022") 0x1a4 else 0x180), s"umask $umask")
      } finally { nio.close(); stock.close() }
    }
  }

  test("the sticky bit takes the stock path and matches it; a missing path fails naming it") {
    val nio = uncached("022")
    val stock = uncached("022", Some(classOf[LocalFileSystem]))
    try {
      val (a, b) = (tmpDir("localfs-sticky-stock"), tmpDir("localfs-sticky-nio"))
      Seq(stock -> a, nio -> b).foreach { case (fs, root) =>
        fs.mkdirs(new Path(root, "s"))
        fs.setPermission(new Path(root, "s"), new FsPermission(sticky.toShort))
      }
      assert(modesUnder(b) === modesUnder(a))
      assert(modesUnder(b)("s") === sticky)
      val missing = new Path(b, "no-such-file")
      val e = intercept[FileNotFoundException](nio.setPermission(missing, new FsPermission(0x1a4.toShort)))
      assert(e.getMessage.contains(missing.toString))
    } finally { nio.close(); stock.close() }
  }

  test("the checksum layer is kept: a flipped byte in a file written through FileSystem or FileContext fails the read") {
    val root = tmpDir("localfs-crc")
    val fs = FileSystem.get(local, new Configuration())
    val fc = FileContext.getLocalFSFileContext(new Configuration())
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    def readBack(p: Path): Unit = {
      val in = fs.open(p)
      try in.readFully(new Array[Byte](bytes.length)) finally in.close()
    }
    def flip(p: Path): Unit = {
      val raf = new RandomAccessFile(p.toUri.getPath, "rw")
      try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0x1) }
      finally raf.close()
    }
    val viaFs = new Path(root, "fs.bin")
    val viaFc = new Path(root, "fc.bin")
    val out = fs.create(viaFs)
    try out.write(bytes) finally out.close()
    // FileContext's open(Path) skips verification on the stock LocalFs too, so
    // its sidecar is checked by reading back through the FileSystem
    val out2 = fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE))
    try out2.write(bytes) finally out2.close()
    for (p <- Seq(viaFs, viaFc)) {
      assert(Files.exists(Paths.get(root, s".${p.getName}.crc")))
      readBack(p)
      flip(p)
      intercept[ChecksumException](readBack(p))
    }
  }

  test("one install point: the engine's core-site.xml is the only one on the classpath") {
    val found = getClass.getClassLoader.getResources("core-site.xml").asScala.toSeq
    assert(found.size === 1, found.mkString(", "))
    val text = scala.io.Source.fromURL(found.head, "UTF-8").mkString
    assert(text.contains("graft.io.NioLocalFileSystem") && text.contains("graft.io.NioLocalFs"))
    val names = "<name>([^<]*)</name>".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(names.sorted === Seq("fs.AbstractFileSystem.file.impl", "fs.file.impl"))
  }

  /** Line numbers of code in `source` that sets the `file:` file system. */
  def fsSettings(source: String): Seq[Int] = {
    val code = SourceLint.code(source)
    """fs\.file\.impl|fs\.AbstractFileSystem\.file\.impl|hadoopConfiguration\s*\.\s*set\s*\(\s*"fs\.""".r
      .findAllMatchIn(code).map(m => code.substring(0, m.start).count(_ == '\n') + 1).toSeq.distinct
  }

  test("the lint flags code that sets the file system and passes docs that name it") {
    assert(fsSettings("""conf.set("fs.file.impl", c)""") === Seq(1))
    assert(fsSettings("val a = 1\n.config(\"spark.hadoop.fs.AbstractFileSystem.file.impl\", c)") === Seq(2))
    assert(fsSettings("""spark.sparkContext.hadoopConfiguration.set("fs.s3a.impl", c)""") === Seq(1))
    assert(fsSettings("/** set by `fs.file.impl` in core-site.xml */\n// fs.file.impl\nx").isEmpty)
  }

  test("no code under src/main/scala sets the file: file system; core-site.xml is its one install point") {
    val bad = SourceLint.mainSources("src/main/scala")
      .flatMap { case (p, source) => fsSettings(source).map(line => s"$p:$line") }
    assert(bad.isEmpty, s"file system set in code, not in core-site.xml: ${bad.mkString(", ")}")
  }
}
