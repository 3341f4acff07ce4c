package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{ExtractDemo, ExtractMain, LocalFs, TableIO}

/** The input check of `ExtractMain.pagesFor` and the footer-schema reads
  * of the sf tables (`ParquetFooter`), the fork-free scratch
  * write (`LocalFs`) that `ExtractMain.run` commits from, and the argument
  * check of the `ExtractDemo` smoke main. */
class ExtractMainSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-extractmain-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pagesDf(n: Int) = {
    import spark.implicits._
    spark.createDataset((0L until n).map(i => graft.fixtures.FixtureGen.fixture(i).page)).toDF()
  }

  test("pagesFor reads Page parquet without a job") {
    val in = Files.createTempDirectory("graft-pages").resolve("in").toString
    pagesDf(20).repartition(2).write.parquet(in)
    val (pages, jobs) = SparkJobs.counted(spark)(ExtractMain.pagesFor(spark, in))
    assert(jobs == 0, s"pagesFor started $jobs jobs")
    assert(pages.get.collect().map(_.url).toSet == pagesDf(20).collect().map(_.getString(0)).toSet)
  }

  test("SparkEntry reads the documents and embeddings tables with their footer schema, without a job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sf")
    Seq((1L, "one text", "src1"), (2L, null, "src2")).toDF("doc_id", "text", "source")
      .write.parquet(dir.resolve("documents.parquet").toString)
    Seq((1L, Array(0.5f, 1f)), (2L, Array(0f, 0f))).toDF("vec_id", "embedding").repartition(2)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    for ((table, read) <- Seq[(String, String => org.apache.spark.sql.DataFrame)](
        "documents" -> (SparkEntry.docs(spark, _)), "embeddings" -> (SparkEntry.emb(spark, _)))) {
      val (df, jobs) = SparkJobs.counted(spark)(read(dir.toString))
      assert(jobs == 0, s"reading $table started $jobs jobs")
      val inferred = spark.read.parquet(dir.resolve(s"$table.parquet").toString)
      assert(df.get.schema == inferred.schema)
      assert(df.get.collect().map(_.toString).sorted sameElements inferred.collect().map(_.toString).sorted)
    }
  }

  test("ParquetFooter.rows equals count() for a file, a Spark-written directory and a zero-row file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-rows")
    val df = (0L until 50L).map(i => (i, s"t$i")).toDF("id", "text")
    val multi = dir.resolve("multi").toString
    df.repartition(3).write.parquet(multi)
    val one = dir.resolve("one").toString
    df.coalesce(1).write.option("parquet.block.size", "256").parquet(one)
    val empty = dir.resolve("empty").toString
    df.limit(0).coalesce(1).write.parquet(empty)
    def partFile(d: String) = {
      val s = Files.list(Paths.get(d))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.sorted.head
      finally s.close()
    }
    for (path <- Seq(multi, one, partFile(one), empty, partFile(empty))) {
      val (rows, jobs) = SparkJobs.counted(spark)(graft.spark.ParquetFooter.rows(spark, path))
      assert(jobs == 0, s"$path: rows started $jobs jobs")
      assert(rows.get == spark.read.parquet(path).count(), path)
    }
    assert(graft.spark.ParquetFooter.rows(spark, empty) == 0L)
  }

  test("ParquetFooter.read gives the same rows for a file and its directory; a directory without data files throws") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer-read")
    val one = dir.resolve("one").toString
    Seq((1L, "a", Some(2)), (2L, null, None)).toDF("id", "text", "n").coalesce(1).write.parquet(one)
    val file = {
      val s = Files.list(Paths.get(one))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.head
      finally s.close()
    }
    val fromDir = graft.spark.ParquetFooter.read(spark, one)
    val fromFile = graft.spark.ParquetFooter.read(spark, file)
    assert(fromDir.schema == fromFile.schema)
    assert(fromDir.collect().map(_.toString).sorted sameElements fromFile.collect().map(_.toString).sorted)
    val noData = Files.createDirectories(dir.resolve("no-data"))
    Files.writeString(noData.resolve("_SUCCESS"), "")
    val e = intercept[IllegalArgumentException](graft.spark.ParquetFooter.read(spark, noData.toString))
    assert(e.getMessage.contains("no parquet data file"), e.getMessage)
  }

  test("pagesFor rejects a missing column, html stored as a string and an empty directory before any job") {
    val dir = Files.createTempDirectory("graft-badpages")
    val noHtml = dir.resolve("no-html").toString
    pagesDf(4).drop("html").write.parquet(noHtml)
    val htmlString = dir.resolve("html-string").toString
    pagesDf(4).withColumn("html", col("html").cast("string")).write.parquet(htmlString)
    val empty = Files.createDirectories(dir.resolve("empty")).toString
    for ((in, names) <- Seq(noHtml -> "html", htmlString -> "html", empty -> empty)) {
      val (res, jobs) = SparkJobs.counted(spark)(ExtractMain.pagesFor(spark, in))
      assert(res.isFailure, s"$in: expected a failure")
      assert(jobs == 0, s"$in: $jobs jobs started before the failure")
      val msg = res.failed.get.getMessage
      assert(msg.contains(names), s"$in: the error does not name $names: $msg")
    }
  }

  /** Per committed unit dir: its mode, and the (kind, mode) of its files;
    * every data file must have its `.crc` sibling and the reverse. */
  private def shape(root: Path): Map[String, (Int, Set[(String, Int)])] = {
    def mode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    def list(p: Path) = { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }
    list(root).filter(_.getFileName.toString.startsWith("unit=")).map { d =>
      val files = list(d).map(_.getFileName.toString)
      val data = files.filter(_.endsWith(".parquet")).toSet
      val crc = files.filter(_.endsWith(".crc")).toSet
      assert(files.toSet == data ++ crc, s"$d: unexpected files $files")
      assert(crc == data.map(f => s".$f.crc"), s"$d: data $data, crc $crc")
      d.getFileName.toString -> ((mode(d), files.map(f => (f.takeRight(4), mode(d.resolve(f)))).toSet))
    }.toMap
  }

  test("ExtractMain commits the modes and .crc files of a stock Hadoop local write") {
    val dir = Files.createTempDirectory("graft-localfs")
    val out = dir.resolve("out").toString
    // Hadoop keeps file-system statistics per implementing class: bytes
    // written through LocalFs's raw layer show the write went through it
    val viaLocalFs = FileSystem.getStatistics("file", classOf[LocalFs.Raw])
    val before = viaLocalFs.getBytesWritten
    assert(ExtractMain.run(spark, ExtractMain.Args(in = "fixture:200", out = out, units = 4)) == 4)
    assert(viaLocalFs.getBytesWritten > before, "the scratch write did not go through LocalFs")
    val data = Paths.get(out, "data")
    val stock = dir.resolve("stock")
    spark.read.option("basePath", data.toString).parquet(TableIO.committedDataPaths(out): _*)
      .write.partitionBy("unit").parquet(stock.toString)
    val committed = shape(data)
    assert(committed.keySet == (0 until 4).map(u => s"unit=$u").toSet)
    assert(committed == shape(stock))
  }

  test("LocalFs sets the nine mode bits itself and leaves special bits to Hadoop") {
    val dir = Files.createTempDirectory("graft-localfs-modes")
    val conf = new Configuration()
    LocalFs.writerOptions.foreach { case (k, v) => conf.set(k, v) }
    val fs = new HPath(dir.toUri).getFileSystem(conf)
    assert(fs.isInstanceOf[LocalFs])
    def mode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    val file = dir.resolve("f")
    Files.writeString(file, "x")
    for (m <- Seq(0x1a0 /* 0640 */, 0x1e9 /* 0751 */, 0x124 /* 0444 */, 0x1ff)) {
      fs.setPermission(new HPath(file.toUri), new FsPermission(m.toShort))
      assert(mode(file) == m, f"file mode ${mode(file)}%o, expected $m%o")
    }
    // the sticky bit cannot be set through java.nio: its presence shows the
    // call took Hadoop's own path
    val sticky = Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(new HPath(sticky.toUri), new FsPermission(0x3ed.toShort)) // 01755
    assert(mode(sticky) == 0x3ed, f"sticky dir mode ${mode(sticky)}%o")
    // a directory that inherited setgid keeps it, as under a stock mkdirs
    val setgid = Files.createDirectory(dir.resolve("setgid"))
    Files.setAttribute(setgid, "unix:mode", Integer.valueOf(0x5ed)) // 02755
    val stockFs = new LocalFileSystem()
    stockFs.initialize(dir.toUri, new Configuration())
    assert(fs.mkdirs(new HPath(setgid.resolve("ours").toUri)))
    assert(stockFs.mkdirs(new HPath(setgid.resolve("stock").toUri)))
    assert(mode(setgid.resolve("ours")) == mode(setgid.resolve("stock")))
    assert((mode(setgid.resolve("ours")) & 0x400) != 0, "setgid lost")
  }

  test("ExtractDemo takes one argument, a positive row count or --probe, and rejects the rest") {
    assert(ExtractDemo.rowsArg(Array()) == Some(1000))
    assert(ExtractDemo.rowsArg(Array("200")) == Some(200))
    assert(ExtractDemo.rowsArg(Array("--probe")).isEmpty)
    // main itself throws: the check runs before any SparkSession is built
    for (bad <- Seq(Seq("--sort", "200"), Seq("200", "--sort"), Seq("abc"), Seq("0"))) {
      val e = intercept[IllegalArgumentException](ExtractDemo.main(bad.toArray))
      assert(e.getMessage.contains("usage: ExtractDemo [nRows | --probe]"), e.getMessage)
    }
  }
}
