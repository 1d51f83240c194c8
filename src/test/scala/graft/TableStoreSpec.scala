package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{FileStatus, Path}
import graft.sources.{HadoopStore, LocalStore, TableStore}

/** The two stores honor one contract, and LocalStore keeps Hadoop's
  * view of a `file:` table: same listings (`.crc` sidecars hidden),
  * same lengths, modification times and paths — manifest keys match
  * listed files by `toUri.getPath`, so any drift here would make
  * vacuum delete live files. */
class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def view(sts: Seq[FileStatus]) = sts.map(s =>
    (s.getPath.toUri.getPath, s.isDirectory,
      if (s.isDirectory) 0L else s.getLen, s.getModificationTime)).toSet

  test("LocalStore lists, stats and deletes like Hadoop's local FileSystem") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(Files.createTempDirectory("graft-store t").toString)
    assert(TableStore(conf, root) eq LocalStore)
    val fs = root.getFileSystem(conf)
    val hadoop = new HadoopStore(fs)
    // written through Hadoop's checksummed local FileSystem, the way
    // Spark writes data files: every file gets a `.<name>.crc`
    Seq("a/x.parquet", "a/b c/y.parquet", "z.json").foreach { rel =>
      val out = fs.create(new Path(root, rel))
      out.write(rel.getBytes("UTF-8")); out.close()
    }
    val local = root.toUri.getPath
    assert(Files.exists(java.nio.file.Paths.get(local, "a", ".x.parquet.crc")))
    Seq(root, new Path(root, "a"), new Path(root, "missing")).foreach { d =>
      assert(view(LocalStore.list(d)) == view(hadoop.list(d)), d)
      assert(view(LocalStore.listFiles(d)) == view(hadoop.listFiles(d)), d)
    }
    val x = new Path(root, "a/x.parquet")
    assert(view(Seq(LocalStore.status(x))) == view(Seq(hadoop.status(x))))
    assert(LocalStore.delete(x))
    assert(!Files.exists(java.nio.file.Paths.get(local, "a", ".x.parquet.crc")))
    assert(!LocalStore.delete(x))
    intercept[java.io.FileNotFoundException](LocalStore.status(x))
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("text primitives: exclusive create, atomic overwrite, no temp litter" + tag) {
    val dir = SparkTestBase.tmpRoot("graft-store", scheme)
    val store = TableStore(spark, dir)
    assert((store eq LocalStore) == (scheme == "file"))
    val p = new Path(dir, "m/v0.json")
    assert(store.readText(p).isEmpty)
    assert(store.createExclusive(p, "one"))
    assert(!store.createExclusive(p, "two"))
    assert(store.readText(p).contains("one"))
    store.overwrite(p, "three")
    assert(store.readText(p).contains("three"))
    store.writeNew(new Path(dir, "m/s.json"), "side")
    assert(store.list(new Path(dir, "m")).map(_.getPath.getName).toSet ==
      Set("v0.json", "s.json"))
    assert(store.rename(new Path(dir, "m/s.json"), new Path(dir, "m/t.json")))
    assert(!store.rename(new Path(dir, "m/t.json"), p),
      "a rename onto an existing file must fail")
    assert(store.readText(p).contains("three"))
    assert(store.delete(new Path(dir, "m"), recursive = true))
    assert(!store.exists(p))
  }
}
