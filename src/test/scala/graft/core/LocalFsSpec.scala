package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec
import graft.pipeline.Pipeline

/** The session's `file:` FileSystem ([[NioLocalFileSystem]]): it is the one
  * every caller gets, it leaves the same permission bits and `.crc` files as
  * the stock `LocalFileSystem`, and a pipeline table run starts no process.
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
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      assert(run() == 3L)
      rec.stop()
      rec.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toList
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      assert(commands.isEmpty, s"${commands.size} process starts")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
