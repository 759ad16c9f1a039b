package graft

import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.cdc.ApplyChanges
import graft.sinks.Sinks.{NioLocalFileSystem, ParquetSnapshotStore}

/** The CDC writes' filesystem: [[NioLocalFileSystem]] leaves the same
  * POSIX bits as Hadoop's forking local filesystem, and the store's
  * writes through it read back what was merged. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  /** Relative path → `rwxr-x---`-style bits of `root` ("") and
    * everything under it. */
  private def modes(root: Path): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.map { f =>
      root.relativize(f).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
    }.toMap
    finally walk.close()
  }

  test("NIO filesystem sets the same mode bits as the stock local filesystem") {
    Seq("022", "027", "077").foreach { umask =>
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      /** Dirs and files made through `fs` under a fresh root: defaults
        * and explicit modes, nested dirs, a file whose parent is new. */
      def made(fs: FileSystem): Map[String, String] = {
        fs.initialize(URI.create("file:///"), conf)
        val root = Files.createTempDirectory("nioperm")
        val r = new HPath(root.toUri)
        fs.mkdirs(new HPath(r, "a/b"))
        fs.mkdirs(new HPath(r, "m"), new FsPermission("750"))
        fs.create(new HPath(r, "a/b/plain")).close()
        fs.create(new HPath(r, "m/x/moded"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new HPath(r, "a/b/plain"), new FsPermission("604"))
        modes(root)
      }
      val stock = made(new LocalFileSystem())
      val nio = made(new NioLocalFileSystem())
      assert(stock.size >= 9, s"expected dirs, files and .crc files: $stock")
      assert(nio === stock, s"umask $umask")
    }
  }

  test("store merge and totals through the NIO writes read back, with stock modes") {
    val root = Files.createTempDirectory("niostore")
    val store = new ParquetSnapshotStore(spark, root.resolve("snap").toString, Seq("emp_id"))
    val totals = root.resolve("totals").toString
    val batch1 = (1 to 40).map(i => (i.toLong, s"c${i % 3}", 1000L + i, "insert", i.toLong))
    val batch2 = Seq((3L, "c9", 7L, "update", 50L), (4L, "c0", 0L, "delete", 51L),
      (41L, "c1", 9L, "insert", 52L))
    val cols = Seq("emp_id", "emp_city", "emp_salary", "action", "ts")
    Seq(batch1, batch2).foreach { b =>
      store.merge(b.toDF(cols: _*), "ts")
      store.writeTotals(totals, "emp_city", "emp_salary")
    }
    val all = (batch1 ++ batch2).toDF(cols: _*)
    val expected = ApplyChanges.applyLog(all, Seq("emp_id"), col("ts"))
      .select(cols.map(col): _*).as[(Long, String, Long, String, Long)].collect().toSet
    val snap = store.load().get.as[(Long, String, Long, String, Long)].collect().toSet
    assert(snap === expected)
    val byCity = snap.groupBy(_._2).map { case (c, rs) => (c, rs.toSeq.map(_._3).sum, rs.size.toLong) }
    assert(spark.read.parquet(totals).as[(String, Long, Long)].collect().toSet === byCity.toSet)

    // the same frame written the stock way: same bits per kind of entry,
    // and the stock write's _SUCCESS marker is the only extra file
    val stockDir = root.resolve("stock")
    store.load().get.write.parquet(stockDir.toString)
    def kinds(m: Map[String, String]): Set[(String, String)] = m.map { case (f, bits) =>
      (if (f.endsWith(".crc")) "crc" else if (f.endsWith(".parquet")) "parquet" else f, bits)
    }.toSet
    val nioModes = modes(root.resolve("snap"))
    val stockModes = modes(stockDir)
    assert(!nioModes.keys.exists(_.contains("_SUCCESS")))
    assert(kinds(nioModes) === kinds(stockModes.filter { case (f, _) => !f.contains("_SUCCESS") }))
  }
}
