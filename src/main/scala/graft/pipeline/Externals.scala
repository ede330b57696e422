package graft.pipeline

/** Boundary for the reference's non-relational stages (SURVEY §2.9
  * "external-process map", FIXTURES.md §10): HTTP fetch, PDF text
  * extraction, audio codec, forced alignment, ASR. Production would bind
  * real clients/models per partition; tests bind [[StubExternals]] —
  * deterministic fakes with the same signatures, so the surrounding
  * Spark plumbing (mapPartitions shape, schemas, partitioning) is
  * exercised for real. [[JavaSoundExternals]] binds the REAL decoders
  * available in a stock JDK: audio through the javax.sound SPI chain
  * (wav/au/aiff/ULAW out of the box; mp3 with an SPI jar on the
  * executor classpath) and PDF text through the native
  * [[graft.operators.PdfText]] extractor.
  */
trait Externals extends Serializable {
  /** Crawler metadata fetch (crawler/metadata.py:94-180). */
  def fetchBookMetadata(url: String): BookMeta
  /** PDF -> text (process_all.py:265-279, PyMuPDF). */
  def extractPdfText(bytes: Array[Byte]): String
  /** Compressed-audio decode (librosa.load, process_all.py:382-392);
    * wav/PCM is decoded natively by AudioOps. */
  def decodeAudio(bytes: Array[Byte]): (Array[Float], Int)
  /** ASR transcription (whisper_qc.py:285-307). */
  def transcribe(samples: Array[Float], refText: String): String
  /** Image resize: encoded image bytes -> encoded bytes at (w, h).
    * [[StubExternals]] binds a deterministic content-keyed fake (the
    * registered query's oracle replays it); [[JavaSoundExternals]]
    * binds the REAL JDK codec path (javax.imageio decode +
    * area-averaging scale + re-encode) for png/jpeg/bmp/gif payloads.
    * The Spark-side plumbing (batching, partitioning,
    * binary->binary schema) is identical either way. */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
}

final case class BookMeta(
  name: String, author: String, durationStr: String,
  narrators: Seq[(String, String)], // (name, url)
  audioUrls: Seq[String], textUrl: String)

/** Deterministic fakes keyed on input content — reproducible across runs
  * and engines, no IO. */
object StubExternals extends Externals {
  private def hash(s: String): Int = math.abs(s.hashCode) % 1000

  override def fetchBookMetadata(url: String): BookMeta = {
    val h = hash(url)
    BookMeta(
      name = s"Book Tựa $h",
      author = s"Author $h",
      durationStr = f"${h % 12}%d:${h % 60}%02d:00",
      narrators = (0 to h % 3).map(i => (s"Narrator $h-$i", s"http://n/$h/$i")),
      audioUrls = (1 to 1 + h % 3).map(i => s"$url/part$i.mp3"),
      textUrl = s"$url/book.pdf")
  }

  override def extractPdfText(bytes: Array[Byte]): String =
    // fixture "PDFs" are ASCII payloads; real impl would bind PDFBox here
    new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)

  override def decodeAudio(bytes: Array[Byte]): (Array[Float], Int) =
    graft.operators.AudioOps.decodePcm16Wav(bytes)

  /** Drops every 7th word — a fixed, content-independent corruption so
    * corpus WER is exactly predictable on both sides of the QC gate. */
  override def transcribe(samples: Array[Float], refText: String): String =
    refText.split("\\s+").zipWithIndex
      .collect { case (w, i) if i % 7 != 6 => w }.mkString(" ")

  /** Deterministic fake resize: an 8-byte big-endian (w, h) header
    * followed by the first 16 input bytes — content-keyed, so tests and
    * the SQL oracle can rebuild the exact bytes without a codec (or a
    * blob-capable hash, which DuckDB's md5 is not). */
  override def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val head = bytes.take(16)
    val bb = java.nio.ByteBuffer.allocate(8 + head.length)
    bb.putInt(w).putInt(h).put(head)
    bb.array()
  }
}
