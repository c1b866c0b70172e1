package vps.tiling

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import vps.SparkTestSession
import vps.sql.functions.st_point

/** The two write paths of [[TileSink]]: `java.nio` for `file:` trees, Hadoop
  * `FileSystem` for every other scheme. Tiles are rendered once and collected,
  * so every spec writes the same rows, hash-partitioned by tile key.
  */
class TileSinkSpec extends AnyFunSuite {
  import TileSinkSpec._

  /** 120 z5 tiles of two points each: a 12 x 10 grid, 30 x 16 degrees apart. */
  private lazy val rows: Seq[TileRow] = {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val cell = $"id" / 2
    val points = spark.range(0, 240).toDF("id").select($"id", st_point(
      lit(-170.0) + (cell % 12).cast("int") * 30.0 + ($"id" % 2) * 0.5,
      lit(-75.0) + (cell / 12).cast("int") * 16.0).as("geom"))
    TilePipeline.tileZoom(points, 5).collect().toSeq
  }

  private def tilesOn(s: SparkSession): Dataset[TileRow] =
    s.createDataset(rows)(Encoders.product[TileRow]).repartition(4, col("x"), col("y"))

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)

  /** Every regular file of the tree, by relative path. */
  private def files(root: JPath): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** The tree written by the local path from the shared session. */
  private lazy val reference: Map[String, Seq[Byte]] = {
    val dir = tempDir("sink-ref")
    TileSink.write(tilesOn(SparkTestSession.spark), dir.toString)
    files(dir)
  }

  test("a partition that fails on its first attempt commits the same tree and lineage as a clean run") {
    assert(rows.size === 120 && rows.forall(_.features == 2))
    reference // written from the shared session, which withMaster stops
    SparkTestSession.withMaster("local[4,3]") { s =>
      val clean = tempDir("sink-clean")
      TileSink.write(tilesOn(s), clean.toString)
      failures.set(0)
      val failing = tilesOn(s).mapPartitions { it =>
        val tc = TaskContext.get
        if (tc.partitionId == 1 && tc.attemptNumber == 0) {
          failures.incrementAndGet()
          throw new IllegalStateException("first attempt of partition 1 fails")
        }
        it
      }(Encoders.product[TileRow])
      val retried = tempDir("sink-retried")
      val lineage = TileSink.write(failing, retried.toString)
      assert(failures.get === 1, "partition 1 must fail once and be retried")
      assert(lineage.map(_.tiles).sum === rows.size)
      assert(files(retried) === files(clean))
      assert(files(clean) === reference)
      assert(!files(retried).keys.exists(_.contains(".tmp")), "no temp file may remain")
    }
  }

  test("rewriting a Hadoop-written tree leaves no stale checksum sidecar behind") {
    val spark = SparkTestSession.spark
    val dir = tempDir("sink-crc")
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFileSystem], "the seed must go through the checksummed local FileSystem")
    def seed(rel: String, bytes: Array[Byte]): Unit = {
      val os = fs.create(new Path(dir.resolve(rel).toString), true)
      try os.write(bytes) finally os.close()
    }
    // every tile and lineage file, with other bytes (a lineage record that
    // never matches), so each one is replaced
    reference.keys.foreach(rel => seed(rel, if (rel.endsWith(".json")) "{\"zoom\":5}".getBytes("UTF-8") else Array[Byte](1, 2, 3)))
    assert(files(dir).keys.count(_.endsWith(".crc")) === reference.size)

    TileSink.write(tilesOn(spark), dir.toString)
    assert(files(dir) === reference, "every file rewritten, every sidecar gone")
    reference.foreach { case (rel, bytes) =>
      val in = fs.open(new Path(dir.resolve(rel).toString))
      val read = try in.readAllBytes().toSeq finally in.close()
      assert(read === bytes, s"$rel")
    }
  }

  test("a local tree is written without Hadoop: a file: FileSystem whose create throws is never called") {
    val spark = SparkTestSession.spark
    val hadoopBefore = spark.sparkContext.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val s = spark.newSession()
    s.conf.set("fs.file.impl", classOf[ThrowingCreateFs].getName)
    s.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val dir = tempDir("sink-nohadoop")
      // the session's Hadoop configuration does reach the throwing FileSystem
      val probe = new Path(dir.resolve("probe").toString)
      intercept[UnsupportedOperationException](probe.getFileSystem(s.sessionState.newHadoopConf()).create(probe))
      val sessionBefore = s.conf.getAll
      TileSink.write(tilesOn(s), dir.toString)
      assert(files(dir) === reference)
      assert(s.conf.getAll === sessionBefore)
      assert(spark.sparkContext.hadoopConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap === hadoopBefore)
    } finally {
      s.conf.unset("fs.file.impl")
      s.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("a non-file scheme goes through Hadoop FileSystem and writes the same bytes as the local path") {
    val s = SparkTestSession.spark.newSession()
    s.conf.set(s"fs.${SchemeLocalFs.Scheme}.impl", classOf[SchemeLocalFs].getName)
    val dir = tempDir("sink-scheme")
    val lineage = TileSink.write(tilesOn(s), s"${SchemeLocalFs.Scheme}:$dir")
    assert(lineage.map(_.tiles).sum === rows.size)
    assert(files(dir) === reference)
    // a second write resumes from the lineage the Hadoop path committed
    val again = TileSink.write(tilesOn(s), s"${SchemeLocalFs.Scheme}:$dir")
    assert(again.toSet === lineage.toSet)
    assert(files(dir) === reference)
  }
}

object TileSinkSpec {
  val failures = new AtomicInteger()
}

/** A `file:` FileSystem that refuses to create files. */
class ThrowingCreateFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException(s"create($f) on a local tree")
}

/** The raw local file system under its own scheme, so writes take the
  * Hadoop path of [[TileSink]].
  */
class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = SchemeLocalFs.Uri
  override def getScheme: String = SchemeLocalFs.Scheme
}

object SchemeLocalFs {
  val Scheme = "vpstest"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
}
