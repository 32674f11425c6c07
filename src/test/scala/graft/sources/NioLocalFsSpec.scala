package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext,
  FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` binding against Hadoop's own local filesystem: every
  * operation runs once through Hadoop's class and once through the
  * engine's, in sibling directories, and must leave the same mode bits,
  * answer the same link lookups and rename the same way. */
class NioLocalFsSpec extends AnyFunSuite {
  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def fsPair: Seq[(String, FileSystem)] = {
    val hadoop = new LocalFileSystem()
    hadoop.initialize(root, conf)
    val nio = new NioLocalFileSystem()
    nio.initialize(root, conf)
    Seq("hadoop" -> hadoop, "nio" -> nio)
  }

  private def fcPair: Seq[(String, FileContext)] = Seq(
    "hadoop" -> FileContext.getFileContext(
      AbstractFileSystem.get(root, conf), conf),
    "nio" -> FileContext.getFileContext(new NioLocalFs(root, conf), conf))

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def oct(m: Int) = Integer.toOctalString(m)

  test("the engine classes are Hadoop's local stack") {
    val (_, nio) = fsPair.last
    assert(nio.isInstanceOf[LocalFileSystem])
    assert(nio.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    val afs = new NioLocalFs(root, conf)
    assert(afs.getUri === AbstractFileSystem.get(root, conf).getUri)
    assert(afs.getUriDefaultPort ===
      AbstractFileSystem.get(root, conf).getUriDefaultPort)
  }

  test("FileSystem: new files 0644 and directories 0755 under the " +
    "default umask, setPermission 0600/0700 honoured") {
    val base = Files.createTempDirectory("graft_niofs").toString
    val got = fsPair.map { case (name, fs) =>
      val d = s"$base/$name"
      fs.mkdirs(new Path(s"$d/sub/leaf"))
      fs.create(new Path(s"$d/sub/f")).close()
      fs.create(new Path(s"$d/g")).close()
      fs.setPermission(new Path(s"$d/g"), perm("600"))
      fs.mkdirs(new Path(s"$d/priv"))
      fs.setPermission(new Path(s"$d/priv"), perm("700"))
      name -> Seq("sub", "sub/leaf", "sub/f", "sub/.f.crc", "g", "priv")
        .map(r => r -> oct(mode(s"$d/$r")))
    }.toMap
    assert(got("hadoop") === Seq("sub" -> "755", "sub/leaf" -> "755",
      "sub/f" -> "644", "sub/.f.crc" -> "644", "g" -> "600",
      "priv" -> "700"))
    assert(got("nio") === got("hadoop"))
  }

  test("FileContext: create, mkdir and setPermission leave Hadoop's " +
    "modes; rename(OVERWRITE) onto an existing file replaces it and " +
    "its checksum, as a checkpoint commit does") {
    val base = Files.createTempDirectory("graft_niofc").toString
    val got = fcPair.map { case (name, fc) =>
      val d = s"$base/$name"
      fc.mkdir(new Path(s"$d/ck"), FsPermission.getDirDefault, true)
      def put(p: String, body: String): Unit = {
        val out = fc.create(new Path(p), EnumSet.of(CreateFlag.CREATE,
          CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      put(s"$d/ck/1", "old")
      put(s"$d/ck/.1.tmp", "new")
      fc.rename(new Path(s"$d/ck/.1.tmp"), new Path(s"$d/ck/1"),
        Options.Rename.OVERWRITE)
      fc.setPermission(new Path(s"$d/ck/1"), perm("600"))
      val in = fc.open(new Path(s"$d/ck/1"))
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val names = new java.io.File(s"$d/ck").list().toSeq.sorted
      name -> (body, names, Seq("ck", "ck/1", "ck/.1.crc")
        .map(r => r -> oct(mode(s"$d/$r"))))
    }.toMap
    assert(got("hadoop") === (("new", Seq(".1.crc", "1"),
      Seq("ck" -> "755", "ck/1" -> "600", "ck/.1.crc" -> "644"))))
    assert(got("nio") === got("hadoop"))
  }

  test("getFileLinkStatus/getLinkTarget answer like Hadoop's on a " +
    "regular file, a symlink and a dangling symlink, plain or " +
    "file:-qualified, through FileSystem and FileContext") {
    val base = Files.createTempDirectory("graft_niolink").toString
    Files.write(Paths.get(s"$base/file"), "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(s"$base/link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$base/dangling"),
      Paths.get(s"$base/gone"))
    def attempt[T](f: => T): String =
      try String.valueOf(f)
      catch { case e: java.io.IOException => e.getClass.getSimpleName }
    val paths = for {
      n <- Seq("file", "link", "dangling")
      q <- Seq(s"$base/$n", s"file:$base/$n")
    } yield new Path(q)
    def describe(st: org.apache.hadoop.fs.FileStatus): String =
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else "-", st.getLen).mkString("|")
    val viaFs = fsPair.map { case (name, fs) =>
      name -> paths.map(p => (attempt(describe(fs.getFileLinkStatus(p))),
        attempt(fs.getLinkTarget(p))))
    }.toMap
    val viaFc = fcPair.map { case (name, fc) =>
      name -> paths.map(p => (attempt(describe(fc.getFileLinkStatus(p))),
        attempt(fc.getLinkTarget(p))))
    }.toMap
    assert(viaFs("nio") === viaFs("hadoop"))
    assert(viaFc("nio") === viaFc("hadoop"))
    // the plain symlink reads as one, target kept as written
    assert(viaFs("nio")(2)._2 === "file")
    assert(viaFs("nio")(4)._2 === s"$base/gone")
  }

  test("a sticky-bit request, or a filesystem without a POSIX " +
    "attribute view, defers to Hadoop's implementation") {
    val base = Files.createTempDirectory("graft_niosticky").toString
    val got = fsPair.map { case (name, fs) =>
      val d = new Path(s"$base/$name")
      fs.mkdirs(d)
      fs.setPermission(d, perm("1777"))
      name -> oct(mode(d.toString))
    }.toMap
    assert(got === Map("hadoop" -> "1777", "nio" -> "1777"))
    assert(!NioLocalFs.chmod(Paths.get(s"$base/nio"), perm("1755")))
    assert(oct(mode(s"$base/nio")) === "1777", "declined, nothing done")
    // a zip filesystem has no POSIX view unless asked for one
    val zip = Paths.get(s"$base/a.zip")
    val zfs = java.nio.file.FileSystems.newFileSystem(zip,
      java.util.Map.of("create", "true"))
    try {
      val inZip = zfs.getPath("/x")
      Files.write(inZip, Array[Byte](1))
      assert(!NioLocalFs.chmod(inZip, perm("600")))
    } finally zfs.close()
    assert(NioLocalFs.chmod(Paths.get(s"$base/nio"), perm("750")))
    assert(oct(mode(s"$base/nio")) === "750")
  }
}
