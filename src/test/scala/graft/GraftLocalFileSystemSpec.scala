package graft

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.{Files, Paths}

/** The session's local filesystem sets permissions in-process, and the
  * bits it sets are exactly the ones Hadoop's stock local filesystem
  * sets through `chmod`. */
class GraftLocalFileSystemSpec extends SparkSpec {

  private def bits(p: Path): String = {
    val f = Paths.get(p.toUri.getPath)
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f))
  }

  test("session FS creates files and dirs with the stock FS's permission bits") {
    val conf = spark.sparkContext.hadoopConfiguration
    val session = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(session.isInstanceOf[GraftLocalFileSystem], session.getClass)
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val base = Files.createTempDirectory("graft_fs_spec_").toString
    // each case: create through `fs` under `root`, return the paths made
    val cases: Seq[(String, (FileSystem, Path) => Seq[Path])] = Seq(
      "default file + .crc" -> { (fs, r) =>
        val p = new Path(r, "a.bin")
        val o = fs.create(p); o.write(1); o.close()
        Seq(p, new Path(r, ".a.bin.crc"))
      },
      "file 0640" -> { (fs, r) =>
        val p = new Path(r, "b.bin")
        fs.create(p, new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null)
          .close()
        Seq(p)
      },
      "nested default dirs" -> { (fs, r) =>
        val p = new Path(r, "x/y")
        assert(fs.mkdirs(p))
        Seq(new Path(r, "x"), p)
      },
      "dir 0750" -> { (fs, r) =>
        val p = new Path(r, "d750")
        assert(fs.mkdirs(p, new FsPermission("750")))
        Seq(p)
      },
      "setPermission 0604 and 0777" -> { (fs, r) =>
        val p = new Path(r, "c.bin")
        fs.create(p).close()
        fs.setPermission(p, new FsPermission("604"))
        val q = new Path(r, "q")
        fs.mkdirs(q)
        fs.setPermission(q, new FsPermission("777"))
        Seq(p, q)
      })
    cases.foreach { case (name, make) =>
      val mine = make(session, new Path(s"$base/session"))
      val theirs = make(stock, new Path(s"$base/stock"))
      assert(mine.map(bits) === theirs.map(bits), name)
    }
    // a sticky bit, which NIO cannot express, goes through Hadoop's call
    val sticky = new FsPermission("1777")
    Seq("session" -> session, "stock" -> stock).foreach { case (n, fs) =>
      val p = new Path(s"$base/$n/sticky")
      fs.mkdirs(p)
      fs.setPermission(p, sticky)
    }
    assert(stock.getFileStatus(new Path(s"$base/session/sticky")).getPermission ===
      stock.getFileStatus(new Path(s"$base/stock/sticky")).getPermission)
    assert(stock.getFileStatus(new Path(s"$base/session/sticky"))
      .getPermission.getStickyBit)
    stock.close()
  }

  test("a Spark write through the session FS lands the stock file bits") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft_fs_spec_").toString + "/w"
    spark.range(0, 10, 1, 2).write.parquet(dir)
    val stock = new LocalFileSystem()
    stock.initialize(new java.net.URI("file:///"), conf)
    val ref = new Path(Files.createTempDirectory("graft_fs_spec_").toString, "ref")
    stock.create(ref).close()
    val files = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filterNot(f => Files.isDirectory(Paths.get(f)))
    assert(files.count(_.endsWith(".parquet")) === 2, files.toSeq)
    assert(files.exists(_.endsWith(".crc")) && files.exists(_.endsWith("_SUCCESS")))
    files.foreach(f => assert(bits(new Path(f)) === bits(ref), f))
    stock.close()
  }
}
