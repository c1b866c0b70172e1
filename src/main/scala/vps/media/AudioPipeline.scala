package vps.media

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Audio leg of the multimodal column plumbing: WAV/PCM bytes decoded with
  * JDK `javax.sound.sampled` (no external jars, headless-safe — only parsing,
  * no playback). Batched like [[MediaPipeline.decode]]; undecodable bytes
  * flow through the error channel (`decode_ok = false`, null facts).
  *
  * The generator synthesizes REAL RIFF/WAVE PCM files — a 16-bit mono
  * TRIANGLE wave whose sample count, amplitude, and cycle count are closed
  * forms of the id — so the decoder's measured facts (format fields from the
  * actual header, peak/mean from the actual sample payload) are
  * DuckDB-provable. The wave is built in integer arithmetic (a float sine's
  * peak/mean closed forms break on 1-ulp rounding), so by construction the
  * peak equals the amplitude exactly (the quarter-period sample) and the
  * mean is exactly 0 (the second half-period is the first negated, and Scala
  * integer division truncates toward zero symmetrically).
  */
object AudioPipeline {

  val decodedSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_samples", LongType),
    StructField("peak", IntegerType),
    StructField("mean_amp", DoubleType),
    StructField("decode_ok", BooleanType)))

  /** ids divisible by this get deliberately undecodable bytes. */
  val CorruptEvery = 19L
  val SampleRate = 8000
  /** samples per quarter period */
  def quarterFor(id: Long): Int = 25 + math.floorMod(id * 31, 50).toInt
  def cyclesFor(id: Long): Int = 1 + math.floorMod(id * 7, 8).toInt
  /** total samples = cycles x full periods of 4 x quarter */
  def nSamplesFor(id: Long): Long = 4L * quarterFor(id) * cyclesFor(id)
  def amplitudeFor(id: Long): Int = 8000 + math.floorMod(id * 13, 8000).toInt

  /** SQL fragments (over the numeric `doc_id`) for the DuckDB oracle. */
  val corruptSql = "doc_id % 19 = 0"
  val nSamplesSql = "4 * (25 + (doc_id * 31) % 50) * (1 + (doc_id * 7) % 8)"
  val amplitudeSql = "8000 + (doc_id * 13) % 8000"

  /** One triangle-wave sample: exact integer math, v(q + 2u) == -v(q). */
  private def tri(q: Int, u: Int, a: Int): Int = {
    val t =
      if (q < u) q
      else if (q < 2 * u) 2 * u - q
      else if (q < 3 * u) -(q - 2 * u)
      else -(4 * u - q)
    a * t / u
  }

  /** Real RIFF/WAVE PCM bytes: 16-bit mono integer triangle wave. */
  def audioBlobFor(id: Long): Array[Byte] =
    if (math.floorMod(id, CorruptEvery) == 0L) s"NOTAUDIO:$id".getBytes("UTF-8")
    else {
      val u = quarterFor(id)
      val n = nSamplesFor(id).toInt
      val a = amplitudeFor(id)
      val dataLen = n * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort) // PCM
        .putShort(1.toShort) // mono
        .putInt(SampleRate)
        .putInt(SampleRate * 2) // byte rate
        .putShort(2.toShort) // block align
        .putShort(16.toShort) // bits
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < n) {
        bb.putShort(tri(i % (4 * u), u, a).toShort)
        i += 1
      }
      bb.array()
    }

  def synthesizeAudioBlob(id: Column): Column = {
    val f = udf((i: Long) => audioBlobFor(i))
    f(id.cast("long"))
  }

  /** Append decoded audio facts; one `javax.sound.sampled` parse per row,
    * batched rows per partition sweep (decode memory bounded by batchSize x
    * clip size). Format facts come from the parsed header, peak/mean from a
    * full pass over the PCM payload.
    */
  def decode(df: DataFrame, blobCol: String, batchSize: Int = 256): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ decodedSchema.fields)
    val blobIdx = df.schema.fieldIndex(blobCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val bytes = row.getAs[Array[Byte]](blobIdx)
          if (bytes == null)
            Row.fromSeq(row.toSeq ++ Seq(null, null, null, null, null, null, null))
          else
            decodeOne(bytes) match {
              case None =>
                Row.fromSeq(row.toSeq ++ Seq(null, null, null, null, null, null, false))
              case Some((rate, ch, bits, n, peak, mean)) =>
                Row.fromSeq(row.toSeq ++ Seq(rate, ch, bits, n, peak, mean, true))
            }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** The `AudioFileReader` providers of the current thread's context
    * classloader (the JDK loader when there is none), resolved once per
    * loader. `AudioSystem.getAudioInputStream` re-runs the provider lookup on
    * every call through a synchronized JDK-internal service registry — at 32
    * decode threads that lock serializes the whole stage (measured: stage
    * wall 17 s vs 0.8 s of actual CPU at bench SF). Iterating the same
    * provider list directly is AudioSystem's own algorithm (first reader
    * that accepts the stream wins; all-fail == UnsupportedAudioFileException)
    * with the lookup hoisted.
    *
    * Keyed by loader, like AudioSystem's own lookup: on an executor the
    * context loader is the Spark user-jar loader, so SPI readers shipped via
    * --jars keep working, and a thread with another loader gets that loader's
    * readers, not the first caller's. Keys are weak, so a discarded loader is
    * not pinned by its entry unless readers it loaded hold it.
    *
    * WAVE readers come first and MIDI-backed ones last. That order assumes
    * the JDK's built-in readers, each of which accepts a disjoint container
    * format, so probe ORDER never changes which bytes decode — but the JDK's
    * SoftMidiAudioFileReader re-enters the synchronized MIDI provider
    * registry on EVERY probe (thread-dump sampled: 556/583 decode threads
    * BLOCKED in MidiSystem.getMidiFileReaders), so it must not sit in front
    * of the hot WAV path.
    */
  private[media] def audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val cl = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(classOf[javax.sound.sampled.AudioSystem].getClassLoader)
    readersByLoader.computeIfAbsent(cl, loadReaders)
  }

  private val readersByLoader = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[ClassLoader, List[javax.sound.sampled.spi.AudioFileReader]]())

  private def loadReaders(cl: ClassLoader): List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val all = java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader], cl)
      .asScala.toList
    val (midi, rest) = all.partition(_.getClass.getName.toLowerCase.contains("midi"))
    val (wave, other) = rest.partition(_.getClass.getName.toLowerCase.contains("wave"))
    wave ++ other ++ midi
  }

  private def audioStreamFor(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      try {
        return r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  private[media] def decodeOne(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Int, Double)] =
    try {
      val in = audioStreamFor(bytes)
      try {
        val fmt = in.getFormat
        val rate = fmt.getSampleRate.toInt
        val ch = fmt.getChannels
        val bits = fmt.getSampleSizeInBits
        if (bits != 16 || fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          return None // only 16-bit PCM measured; others -> error channel
        val data = in.readAllBytes()
        val n = data.length / (2 * ch)
        val bb = java.nio.ByteBuffer.wrap(data).order(
          if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
        var peak = 0
        var sum = 0L
        var i = 0
        val total = n * ch
        while (i < total) {
          val s = bb.getShort().toInt
          val abs = math.abs(s)
          if (abs > peak) peak = abs
          sum += s
          i += 1
        }
        Some((rate, ch, bits, n.toLong, peak, if (total == 0) 0.0 else sum.toDouble / total))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
}
