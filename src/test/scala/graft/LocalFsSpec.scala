package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sink.JdbcMerge
import graft.sources.{AvroSerde, InMemorySchemaRegistry, KafkaWire}
import graft.streaming.ReplicationPipeline

/** [[LocalFs]] against Hadoop's stock `RawLocalFileSystem`: the same
  * permission bits, the same link statuses, the same checkpoint bytes —
  * only without the forked `chmod`/`readlink`. */
class LocalFsSpec extends SparkTestBase {

  private val local = URI.create("file:///")
  private def init[T <: RawLocalFileSystem](fs: T): T = { fs.initialize(local, new Configuration()); fs }
  private lazy val sides = Seq("stock" -> init(new RawLocalFileSystem), "graft" -> init(new LocalFs.Raw))

  /** The full mode word, sticky bit included, read past any symlink. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0x0fff

  private def tmp(tag: String): Path = new Path(Files.createTempDirectory(s"graft-localfs-$tag").toUri)

  test("create and mkdirs leave the stock bits under the default umask") {
    val modes = sides.map { case (name, fs) =>
      val dir = tmp(name)
      fs.create(new Path(dir, "f")).close()
      fs.mkdirs(new Path(dir, "d/e"))
      name -> Seq("f", "d", "d/e").map(c => mode(new Path(dir, c)))
    }.toMap
    assert(modes("graft") == modes("stock"))
    assert(modes("graft") == Seq(Integer.parseInt("644", 8), Integer.parseInt("755", 8), Integer.parseInt("755", 8)))
  }

  test("setPermission sets the same bits at 0600, 0644, 0700 and 0755") {
    for (octal <- Seq("600", "644", "700", "755"); (name, fs) <- sides) {
      val dir = tmp(name)
      val file = new Path(dir, "f")
      fs.create(file).close()
      val perm = new FsPermission(octal)
      fs.setPermission(file, perm)
      fs.setPermission(dir, perm)
      assert(mode(file) == Integer.parseInt(octal, 8), s"$name file $octal")
      assert(mode(dir) == Integer.parseInt(octal, 8), s"$name dir $octal")
    }
  }

  test("a sticky-bit directory (1777) takes Hadoop's own chmod") {
    // NIO cannot express the sticky bit: seeing it set proves the delegated path ran
    for ((name, fs) <- sides) {
      val dir = tmp(name)
      fs.setPermission(dir, new FsPermission("1777"))
      assert(mode(dir) == Integer.parseInt("1777", 8), name)
    }
  }

  test("getFileLinkStatus: file, directory, symlink and missing path match stock") {
    // scheme-less paths: Hadoop's own readlink runs on the path's string
    // form, so it sees a symlink only there
    val dir = new Path(Files.createTempDirectory("graft-localfs-links").toString)
    val file = new Path(dir, "f")
    sides.head._2.create(file).close()
    val link = new Path(dir, "l")
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get(file.toString))
    def shape(fs: RawLocalFileSystem, p: Path) = {
      val st = fs.getFileLinkStatus(p)
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) Some(st.getSymlink) else None)
    }
    val (stock, graft) = (sides(0)._2, sides(1)._2)
    for (p <- Seq(file, dir, link)) assert(shape(graft, p) == shape(stock, p), p)
    val linkShape = shape(graft, link)
    assert(linkShape._4, "a symlink reports isSymlink")
    assert(linkShape._6.map(_.toUri.getPath) == Some(file.toString), "and its target")
    for (fs <- Seq(stock, graft))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir, "missing")))
  }

  test("FileContext create + rename writes the same files, .crc siblings included") {
    def write(conf: Configuration, dir: Path): Map[String, Seq[Byte]] = {
      val fc = FileContext.getFileContext(local, conf)
      val tmpFile = new Path(dir, ".0.tmp")
      val out = fc.create(tmpFile, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write("v1\n{\"batchWatermarkMs\":0}".getBytes("UTF-8")) finally out.close()
      fc.rename(tmpFile, new Path(dir, "0"), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      val root = Paths.get(dir.toUri)
      Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    }
    val graftConf = new Configuration()
    LocalFs.confs.foreach { case (k, v) => graftConf.set(k, v) }
    assert(FileContext.getFileContext(local, graftConf).getDefaultFileSystem.isInstanceOf[LocalFs.Fs])
    val stockFiles = write(new Configuration(), tmp("fc-stock"))
    assert(stockFiles.keySet == Set("0", ".0.crc"))
    assert(write(graftConf, tmp("fc-graft")) == stockFiles)
  }

  test("the shared session resolves file: to graft's FileContext and FileSystem") {
    val hc = spark.sessionState.newHadoopConf()
    val fc = FileContext.getFileContext(local, hc).getDefaultFileSystem
    assert(fc.isInstanceOf[LocalFs.Fs], fc.getClass.getName)
    val fs = FileSystem.get(local, hc)
    assert(fs.isInstanceOf[LocalFs.FileSystem], fs.getClass.getName)
  }

  test("a replication checkpoint restarts across the switch, stock to graft and back") {
    import spark.implicits._
    val registry = new InMemorySchemaRegistry
    val keySt = StructType(Seq(StructField("id", IntegerType, nullable = false)))
    val keyAvro = AvroSerde.avroSchema(keySt)
    val payload = StructType(Seq(StructField("TITLE", StringType)))
    val envSt = StructType(Seq(StructField("before", payload), StructField("after", payload),
      StructField("op", StringType), StructField("ts_ms", LongType)))
    val envAvro = AvroSerde.avroSchema(envSt)
    val kid = registry.register("movies.sw.cdc-key", keySt)
    val vid = registry.register("movies.sw.cdc-value", envSt)
    def key(id: Int) = AvroSerde.toBytesWithId(Row(id), keySt, keyAvro, kid)
    def upsert(id: Int, title: String, offset: Long) =
      (key(id), AvroSerde.toBytesWithId(Row(null, Row(title), "c", offset), envSt, envAvro, vid), offset)
    def tomb(id: Int, offset: Long) = (key(id), null: Array[Byte], offset)
    val first = Seq(upsert(1, "a", 0), upsert(2, "b", 1), upsert(3, "c", 2), upsert(4, "d", 3),
      upsert(1, "a2", 4), tomb(2, 5))
    // the late frame for key 3 loses only if the keyed state survived the restart
    val second = Seq(upsert(3, "c-late", 1), upsert(4, "d2", 6), upsert(5, "e", 7), upsert(2, "b2", 8))
    val frameSchema = StructType(Seq(StructField("key", BinaryType), StructField("value", BinaryType),
      StructField("offset", LongType, nullable = false)))
    val wire = ReplicationPipeline.WireConfig(
      kafka = KafkaWire.Config(brokers = "unused:9092", topic = "movies.sw.cdc"),
      registry = registry, keySchema = keySt)
    val db = "d_localfs_switch"
    val stockConfs = Seq(
      "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs",
      "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem")

    def append(archive: String, frames: Seq[(Array[Byte], Array[Byte], Long)]): Unit =
      spark.createDataset(frames).toDF("key", "value", "offset").write.mode("append").parquet(archive)
    def run(table: String, archive: String, checkpoint: String, confs: Seq[(String, String)]): Unit = {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = ReplicationPipeline.startFromFrame(
        spark.readStream.schema(frameSchema).parquet(archive), wire,
        ReplicationPipeline.Config(Seq("id"), JdbcMerge.Config(table, keyCols = Nil, dialect = JdbcMerge.Derby),
          checkpoint, trigger = Trigger.AvailableNow()),
        () => DerbyDb.connect(db))
      try q.awaitTermination() finally q.stop()
      // the pipeline kept the session's named implementation
      val fc = FileContext.getFileContext(local, spark.sessionState.newHadoopConf()).getDefaultFileSystem
      assert(fc.getClass.getName == confs.toMap.apply("fs.AbstractFileSystem.file.impl"), table)
    }
    def rows(table: String): Seq[(Int, String, String)] = {
      val c = DerbyDb.connect(db)
      try {
        val rs = c.createStatement().executeQuery(
          s"""SELECT "ID", "TITLE", "__DELETED" FROM "$table" ORDER BY "ID"""")
        val out = Seq.newBuilder[(Int, String, String)]
        while (rs.next()) out += ((rs.getInt(1), rs.getString(2), rs.getString(3)))
        out.result()
      } finally c.close()
    }
    def dir(tag: String) = Files.createTempDirectory(s"graft-localfs-$tag").toString

    try {
      val whole = dir("whole")
      append(whole, first ++ second)
      run("sw_whole", whole, dir("ck-whole"), LocalFs.confs)
      val expected = rows("sw_whole")
      assert(expected == Seq((1, "a2", "false"), (2, "b2", "false"), (3, "c", "false"),
        (4, "d2", "false"), (5, "e", "false")), expected)
      for ((table, before, after) <- Seq(
          ("sw_stock_graft", stockConfs, LocalFs.confs),
          ("sw_graft_stock", LocalFs.confs, stockConfs))) {
        val (archive, checkpoint) = (dir(table), dir(s"ck-$table"))
        append(archive, first)
        run(table, archive, checkpoint, before)
        append(archive, second)
        run(table, archive, checkpoint, after)
        assert(rows(table) == expected, table)
      }
    } finally LocalFs.install(spark)
  }
}
