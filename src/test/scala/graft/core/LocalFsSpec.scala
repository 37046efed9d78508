package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.pipeline.Pipeline

/** The session's `file:` FileSystem ([[NioLocalFileSystem]]) and its
  * `FileContext` twin ([[NioLocalFs]]): they are the ones every caller gets,
  * they leave the same permission bits and `.crc` files as the stock
  * `LocalFileSystem` and `LocalFs`, and a pipeline table run starts no
  * process.
  */
class LocalFsSpec extends SparkSpec {

  test("the session's file: FileSystem is NioLocalFileSystem") {
    // Hadoop caches one file: FileSystem per JVM; the first one created is
    // the one every later caller gets, whatever conf it passes
    assert(FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(new URI("file:///"), new Configuration()).isInstanceOf[NioLocalFileSystem])
  }

  /** Octal modes of the nested dirs, file and `.crc` that `mkdirs` then
    * `create` leave, and of a dir given a sticky-bit permission, under a
    * fresh root of mode `rootMode`, on a fresh `fs` under `umask`.
    */
  private def modesAfterWrite(fs: LocalFileSystem, umask: String, rootMode: Int): Seq[String] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new URI("file:///"), conf)
    try {
      val root = Files.createTempDirectory("localfs")
      Files.setAttribute(root, "unix:mode", Int.box(rootMode))
      assert(fs.mkdirs(new Path(root.resolve("d/e").toUri)))
      val out = fs.create(new Path(root.resolve("d/e/f.txt").toUri), true)
      try out.write("x\n".getBytes("UTF-8")) finally out.close()
      val sticky = new Path(root.resolve("s").toUri)
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq("d", "d/e", "d/e/f.txt", "d/e/.f.txt.crc", "s").map { rel =>
        val p: JPath = root.resolve(rel)
        assert(Files.exists(p), rel)
        "%04o".format(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8))
      }
    } finally fs.close()
  }

  test("mkdirs, create and setPermission set the stock LocalFileSystem's permission bits") {
    // a set-group-ID root: its subdirectories inherit the bit, which the
    // stock `chmod 0NNN` keeps
    for ((umask, root, dir, file, sticky) <- Seq(
        ("022", "0755", "0755", "0644", "1777"),
        ("077", "0755", "0700", "0600", "1777"),
        ("022", "2755", "2755", "0644", "3777"))) {
      val rootMode = Integer.parseInt(root, 8)
      val stock = modesAfterWrite(new LocalFileSystem, umask, rootMode)
      assert(stock == Seq(dir, dir, file, file, sticky), (umask, root))
      assert(modesAfterWrite(new NioLocalFileSystem, umask, rootMode) == stock, (umask, root))
    }
  }

  test("the session's FileContext file: system is NioLocalFs") {
    val fc = FileContext.getFileContext(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  /** Relative path and octal mode of everything under `root`. */
  private def tree(root: JPath): Seq[(String, String)] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> "%04o".format(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8))
    }.toSeq.sorted

  /** What a Structured Streaming metadata write leaves through a
    * `FileContext` over `afs`: `mkdir`, then `create` of a temp file, then
    * an overwriting `rename` onto the final name.
    */
  private def fileContextWrite(afs: Class[_], umask: String): Seq[(String, String)] = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    conf.set("fs.AbstractFileSystem.file.impl", afs.getName)
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == afs)
    val root = Files.createTempDirectory("localfs-fc")
    val dir = new Path(root.resolve("d/e").toUri)
    fc.mkdir(dir, FsPermission.getDirDefault, true)
    for (v <- Seq("1", "2")) {
      val tmp = new Path(dir, s".$v.tmp")
      val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s"v$v\n".getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, new Path(dir, "f.txt"), Options.Rename.OVERWRITE)
    }
    assert(new String(Files.readAllBytes(root.resolve("d/e/f.txt")), "UTF-8") == "v2\n")
    tree(root)
  }

  test("FileContext mkdir, create and rename leave the stock LocalFs's files and permission bits") {
    for ((umask, dir, file) <- Seq(("022", "0755", "0644"), ("077", "0700", "0600"))) {
      val stock = fileContextWrite(classOf[LocalFs], umask)
      assert(stock == Seq("d" -> dir, "d/e" -> dir, "d/e/.f.txt.crc" -> file, "d/e/f.txt" -> file), umask)
      assert(fileContextWrite(classOf[NioLocalFs], umask) == stock, umask)
    }
  }

  test("getFileLinkStatus and getLinkTarget answer as the stock RawLocalFileSystem") {
    val root = Files.createTempDirectory("localfs-links")
    Files.writeString(root.resolve("f"), "abc")
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def answers(fs: RawLocalFileSystem, rel: String): (Boolean, Boolean, Long, Option[String], Option[String]) = {
      // a path without a scheme: the stock readlink is given a plain file name
      val p = new Path(root.resolve(rel).toString)
      val st = fs.getFileLinkStatus(p)
      val target = if (st.isSymlink) Some(fs.getLinkTarget(p).toString) else None
      (st.isSymlink, st.isDirectory, st.getLen, Option.when(st.isSymlink)(st.getSymlink.toString), target)
    }
    val stock = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(new URI("file:///"), new Configuration()))
    for (rel <- Seq("f", "d", "l", "dangling")) assert(answers(nio, rel) == answers(stock, rel), rel)
    assert(answers(nio, "l")._1 && answers(nio, "dangling")._1)
    intercept[java.io.IOException](nio.getLinkTarget(new Path(root.resolve("f").toString)))
  }

  test("a pipeline table run starts no operating-system process") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "name")
    val types = Seq(SchemaColumn("id", "bigint"), SchemaColumn("name", "varchar(8)"))
    def run(): Long = {
      val layout = Pipeline.Layout(Files.createTempDirectory("localfs-pipe").toString, "2024-01-01")
      Pipeline.runTableRows(spark, df, types, layout, "t")
    }
    // a first run loads whatever classes a table run touches, so one-time
    // initialisation cannot count against the recorded run
    assert(run() == 3L)
    val (rows, commands) = processStarts(run())
    assert(rows == 3L)
    assert(commands.isEmpty, s"${commands.size} process starts: ${commands.distinct.take(5)}")
  }
}
