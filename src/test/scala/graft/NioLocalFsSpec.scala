package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The in-process `file:` filesystem against Hadoop's stock
  * `RawLocalFileSystem`: each call is made by both on sibling paths
  * (or the same path, for reads) and the resulting modes and statuses
  * must be identical.
  */
class NioLocalFsSpec extends SparkSpec {

  private def both(conf: Configuration = new Configuration())
      : Seq[(String, RawLocalFileSystem)] =
    Seq("stock" -> new RawLocalFileSystem, "nio" -> new NioRawLocalFileSystem)
      .map { case (tag, fs) =>
        fs.initialize(URI.create("file:///"), conf)
        tag -> fs
      }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def setMode(p: JPath, octal: String): Unit =
    Files.setAttribute(p, "unix:mode", Integer.parseInt(octal, 8))

  private def octal(m: Int): String = f"${m}%04o"

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Mode of the stock and the NIO result of `act` on a fresh sibling
    * made by `make`.
    */
  private def modes(dir: JPath, name: String,
      conf: Configuration = new Configuration())(
      make: JPath => Unit)(act: (RawLocalFileSystem, Path) => Unit)
      : Map[String, String] =
    both(conf).map { case (tag, fs) =>
      val p = dir.resolve(s"$tag-$name")
      make(p)
      act(fs, new Path(p.toString))
      tag -> octal(mode(p))
    }.toMap

  private val kinds: Seq[(String, JPath => Unit)] = Seq(
    "file" -> (p => Files.createFile(p)),
    "dir" -> (p => Files.createDirectory(p)))

  test("setPermission: the nine rwx bits give the stock modes") {
    val dir = tmp("graft_nio_perm")
    for ((kind, make) <- kinds; perm <- Seq("700", "750", "755", "644",
        "600", "777")) {
      val m = modes(dir, s"$kind-$perm")(make)(
        _.setPermission(_, new FsPermission(perm)))
      assert(m("nio") === m("stock"), s"$kind $perm")
      assert(m("nio") === s"0$perm", s"$kind $perm")
    }
  }

  test("setPermission: sticky and set-id bits survive through the " +
    "stock fallback") {
    val dir = tmp("graft_nio_special")
    for ((kind, make) <- kinds) {
      val sticky = modes(dir, s"$kind-1777")(make)(
        _.setPermission(_, new FsPermission("1777")))
      assert(sticky("nio") === sticky("stock"), kind)
      assert(sticky("nio") === "1777", kind)
      // FsPermission has no set-id bits: a 4755 target keeps them, or
      // loses them, exactly as numeric chmod decides (kept on a
      // directory, cleared on a file)
      val setId = modes(dir, s"$kind-4755")(
        p => { make(p); setMode(p, "4755") })(
        _.setPermission(_, new FsPermission("755")))
      assert(setId("nio") === setId("stock"), kind)
      assert(setId("nio") === (if (kind == "dir") "4755" else "0755"), kind)
    }
  }

  test("mkdirs and create with a permission honour the umask like the " +
    "stock filesystem") {
    val dir = tmp("graft_nio_umask")
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val dirs = modes(dir, s"mkdirs-$umask", conf)(_ => ())(
        (fs, p) => assert(fs.mkdirs(new Path(p, "a/b"),
          new FsPermission("777"))))
      val nested = Seq("stock", "nio").map(tag =>
        octal(mode(dir.resolve(s"$tag-mkdirs-$umask/a/b"))))
      assert(dirs("nio") === dirs("stock"), umask)
      assert(nested === Seq.fill(2)(if (umask == "022") "0755" else "0700"))
      val files = modes(dir, s"create-$umask", conf)(_ => ())(
        (fs, p) => fs.create(p, new FsPermission("666"), true, 4096,
          1.toShort, 1L << 20, null).close())
      assert(files("nio") === files("stock"), umask)
      assert(files("nio") === (if (umask == "022") "0644" else "0600"))
    }
  }

  test("getFileLinkStatus matches on a file, a directory, a symlink " +
    "and a dangling symlink") {
    val dir = tmp("graft_nio_link")
    val file = Files.write(dir.resolve("f"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("x"),
      dir.resolve("gone"))
    def view(st: Try[FileStatus]) = st.map { s =>
      (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
        s.isDirectory, s.getLen)
    }.recover { case e => e.getClass.getName }.get
    val Seq((_, stock), (_, nio)) = both()
    for (p <- Seq(file, sub, link, dangling);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = view(Try(stock.getFileLinkStatus(path)))
      assert(view(Try(nio.getFileLinkStatus(path))) === want, path)
    }
    // the bare-path forms read the links as links
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
  }

  test("the session's file: FileSystem and FileContext resolve to the " +
    "in-process filesystem") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("the owner-only artifact root: mkdirs plus 700 through the " +
    "session's file: FileSystem reads back rwx------") {
    // the calls ArtifactStore.ensureRoot makes for the default root
    val root = tmp("graft_nio_root").resolve(".graft-artifacts-spec")
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val p = new Path(root.toString)
    assert(fs.mkdirs(p))
    fs.setPermission(p, new FsPermission("700"))
    assert(PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(root.toString))) ===
      "rwx------")
  }
}
