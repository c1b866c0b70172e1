package vps.tiling

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.util.SerializableConfiguration

/** MVT file-tree sink `<dir>/<z>/<x>/<y>.mvt` with per-partition lineage +
  * metrics and idempotent resume (reference S13/S14 + the north rule's
  * "resumable from checkpoint with per-partition lineage").
  *
  * Each task writes its tiles then commits `_lineage/z<zoom>/part-<pid>.json`,
  * every file via a temp file unique to the task attempt + atomic move, so two
  * attempts of one partition (speculation, or a retry overlapping a zombie)
  * never move each other's half-written temp into place. A re-run sees the
  * committed lineage record and skips the partition entirely, so interrupted
  * jobs resume where they stopped; tile bytes are deterministic (features
  * id-sorted), so a partial overwrite is byte-identical.
  *
  * Lineage records carry a two-part fingerprint — the job's partition count
  * AND an order-independent hash of the partition's tile-key set: a re-run
  * with a different parallelism/AQE layout maps tiles to different partition
  * ids, and a re-run whose layout matches but whose input changed maps
  * DIFFERENT tiles to the same partition id; in both cases the stale record
  * must not suppress the partition — on any mismatch it rewrites and
  * re-commits.
  *
  * Two write paths. The driver qualifies `dir` with the Hadoop FileSystem of
  * the session's Hadoop configuration (a scheme-less path follows
  * `fs.defaultFS`); then:
  *  - `file:` trees are written with `java.nio.file`: `Files.write` of the
  *    temp, `Files.move(ATOMIC_MOVE)` over the target (one `rename(2)`, so a
  *    reader never finds a committed tile missing), and no checksum sidecar.
  *    A stale Hadoop `.<name>.crc` left by an older tree is deleted before
  *    its file is replaced, or `LocalFileSystem.open` would fail on the new
  *    bytes.
  *  - every other scheme goes through Hadoop `FileSystem`
  *    (create, delete, rename).
  * The local path exists because of a measured regime: without native
  * Hadoop, every `LocalFileSystem.create` forks a `chmod` child process, so a
  * tile file costs ~7-13 ms through Hadoop against ~0.1-0.4 ms through
  * `java.nio` on a loaded 4-core host (BENCH/BASELINE.md, "Tile sink on
  * java.nio").
  */
object TileSink {

  final case class PartitionLineage(
      zoom: Int, partition: Int, tiles: Long, features: Long, bytes: Long, parts: Int,
      keysig: Long)

  def write(tiles: Dataset[TilePipeline.TileRow], dir: String): Seq[PartitionLineage] = {
    val conf = tiles.sparkSession.sessionState.newHadoopConf()
    val root = new Path(dir)
    val qualified = root.getFileSystem(conf).makeQualified(root)
    val tree: Tree =
      if (qualified.toUri.getScheme == "file") new LocalTree(Paths.get(qualified.toUri).toString)
      else new HadoopTree(qualified.toString, new SerializableConfiguration(conf))

    // pin ONE physical layout: the fingerprint below must describe the same
    // partitioning the tasks actually run with. The rows come from the
    // Dataset's own plan, not from a second, deserializing one (`tiles.rdd`).
    val Seq(zoomAt, xAt, yAt, mvtAt, featuresAt) =
      Seq("zoom", "x", "y", "mvt", "features").map(tiles.schema.fieldIndex)
    val rdd = tiles.queryExecution.toRdd
    val nParts = rdd.getNumPartitions

    rdd.mapPartitions { rows =>
      val pid = TaskContext.getPartitionId()
      val attempt = TaskContext.get.taskAttemptId()
      val buffered = rows.map(r =>
        TileRow(r.getInt(zoomAt), r.getInt(xAt), r.getInt(yAt), r.getBinary(mvtAt), r.getInt(featuresAt))).toArray
      if (buffered.isEmpty) Iterator.empty
      else {
        val zoom = buffered.head.zoom
        // order-independent fingerprint of the partition's (tile key, tile
        // CONTENT) set: a resume only skips when the layout (parts), the
        // exact tiles this partition carries, AND their encoded bytes all
        // match the committed record. Folding the content hash in closes the
        // case where an input edit changes tile bytes without changing which
        // tiles land in the partition — that now rewrites instead of keeping
        // stale .mvt output. (The content hash is FNV-1a over bytes the
        // partition already holds in memory — noise next to the MVT encode.)
        var keysig = 0L
        buffered.foreach { t =>
          var h = 0xcbf29ce484222325L // FNV-1a 64 over the tile bytes
          var i = 0
          while (i < t.mvt.length) { h = (h ^ (t.mvt(i) & 0xffL)) * 0x100000001b3L; i += 1 }
          keysig ^= vps.text.TextOps.mix64(
            ((t.zoom.toLong << 58) ^ (t.x.toLong << 29) ^ t.y.toLong) ^ vps.text.TextOps.mix64(h))
        }
        val lineageDir = s"_lineage/z$zoom"
        val lineageName = s"part-$pid.json"
        tree.read(s"$lineageDir/$lineageName").map(b => parseLineage(new String(b, "UTF-8"))) match {
          case Some(rec) if rec.parts == nParts && rec.keysig == keysig =>
            // committed by a previous run under the SAME layout: skip (resume)
            Iterator.single(rec)
          case _ =>
            // no record, or a record from a different partition layout (stale)
            var nTiles = 0L; var nFeatures = 0L; var nBytes = 0L
            buffered.map(t => s"${t.zoom}/${t.x}").distinct.foreach(tree.mkdirs)
            buffered.foreach { t =>
              tree.put(s"${t.zoom}/${t.x}", s"${t.y}.mvt", t.mvt, attempt)
              nTiles += 1; nFeatures += t.features; nBytes += t.mvt.length
            }
            val rec = PartitionLineage(zoom, pid, nTiles, nFeatures, nBytes, nParts, keysig)
            tree.mkdirs(lineageDir)
            tree.put(lineageDir, lineageName, lineageJson(rec).getBytes("UTF-8"), attempt)
            Iterator.single(rec)
        }
      }
    }.collect().toSeq
  }

  /** One destination tree; paths are relative to its root. */
  private sealed trait Tree extends Serializable {
    def read(file: String): Option[Array[Byte]]
    def mkdirs(dir: String): Unit
    /** Commit `bytes` as `<dir>/<name>` via `.<name>.tmp-<attempt>` + move. */
    def put(dir: String, name: String, bytes: Array[Byte], attempt: Long): Unit
  }

  private final class LocalTree(root: String) extends Tree {
    def read(file: String): Option[Array[Byte]] = {
      val p = Paths.get(root, file)
      if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
    }
    def mkdirs(dir: String): Unit = Files.createDirectories(Paths.get(root, dir))
    def put(dir: String, name: String, bytes: Array[Byte], attempt: Long): Unit = {
      val d = Paths.get(root, dir)
      val tmp = Files.write(d.resolve(s".$name.tmp-$attempt"), bytes)
      Files.deleteIfExists(d.resolve(s".$name.crc"))
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private final class HadoopTree(root: String, conf: SerializableConfiguration) extends Tree {
    @transient private lazy val fs: FileSystem = new Path(root).getFileSystem(conf.value)
    def read(file: String): Option[Array[Byte]] = {
      val p = new Path(root, file)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(in.readAllBytes()) finally in.close()
      }
    }
    def mkdirs(dir: String): Unit = fs.mkdirs(new Path(root, dir))
    def put(dir: String, name: String, bytes: Array[Byte], attempt: Long): Unit = {
      val d = new Path(root, dir)
      val tmp = new Path(d, s".$name.tmp-$attempt")
      val dst = new Path(d, name)
      val os = fs.create(tmp, true)
      try os.write(bytes) finally os.close()
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"commit failed for $dst")
    }
  }

  private def lineageJson(r: PartitionLineage): String =
    s"""{"zoom":${r.zoom},"partition":${r.partition},"tiles":${r.tiles},"features":${r.features},"bytes":${r.bytes},"parts":${r.parts},"keysig":${r.keysig}}"""

  private def parseLineage(s: String): PartitionLineage = {
    def field(n: String, default: Long = -1L): Long =
      if (s.contains("\"" + n + "\":")) s.split("\"" + n + "\":")(1).split("[,}]")(0).toLong
      else default
    // a record without keysig (older format) never matches -> safe rewrite
    PartitionLineage(field("zoom").toInt, field("partition").toInt,
      field("tiles"), field("features"), field("bytes"), field("parts").toInt,
      field("keysig", Long.MinValue))
  }
}
