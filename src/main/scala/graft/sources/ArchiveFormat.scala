package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream}
import java.nio.charset.StandardCharsets

/** S9 — the on-disk archival record format (WARC-shaped: ISO 28500's
  * model of a crawl archive as concatenated self-describing records in
  * bounded flat files, re-specified from scratch for the image+caption
  * payload; no WARC library exists in this sandbox and none is needed —
  * the format is 4 header fields and two length-prefixed bodies).
  *
  * Record layout (all ASCII headers, LF-terminated):
  * {{{
  *   GRFT/1.0\n
  *   id: <image_id>\n
  *   epoch: <int>\n
  *   caption-length: <bytes of UTF-8 caption>\n
  *   content-length: <bytes of payload>\n
  *   \n
  *   <caption bytes><payload bytes>\n
  * }}}
  * Records concatenate; files are bounded by the writer (the WARC "1 GB
  * per file" convention), so one reader task per file is the parallel
  * unit and split planning never has to guess record boundaries.
  *
  * Damage semantics (WARC reader convention): a TRUNCATED TAIL — any
  * record whose header block or bodies end at EOF — terminates that
  * file's iteration cleanly; every complete record before it is
  * returned. A MALFORMED header (bad magic/fields at a record start) is
  * corruption, not truncation, and throws.
  */
object ArchiveFormat {
  val Magic = "GRFT/1.0"

  final case class Record(imageId: String, epoch: Int,
                          caption: String, bytes: Array[Byte])

  def encode(r: Record): Array[Byte] = {
    val cap = r.caption.getBytes(StandardCharsets.UTF_8)
    val head = (s"$Magic\nid: ${r.imageId}\nepoch: ${r.epoch}\n" +
      s"caption-length: ${cap.length}\ncontent-length: ${r.bytes.length}\n\n")
      .getBytes(StandardCharsets.UTF_8)
    val out = new Array[Byte](head.length + cap.length + r.bytes.length + 1)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(cap, 0, out, head.length, cap.length)
    System.arraycopy(r.bytes, 0, out, head.length + cap.length, r.bytes.length)
    out(out.length - 1) = '\n'
    out
  }

  /** Streaming single-file reader. `wantCaption`/`wantBytes` false skips
    * the corresponding body with a seek instead of materializing it —
    * the column-pruning fast path (a metadata scan of a payload archive
    * reads ~1% of the bytes).
    *
    * @param keepEpoch the header-evaluable pushed predicate: a rejected
    *   record's bodies are seek-skipped and the record never materializes.
    */
  final class FileReader(file: File, wantCaption: Boolean, wantBytes: Boolean,
                         keepEpoch: Int => Boolean = _ => true)
      extends Iterator[Record] with AutoCloseable {
    private val fileLen = file.length()
    private val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(file), 1 << 16))
    private var pos = 0L
    private var nextRec: Record = _
    private var done = false

    private def readLine(): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = in.read()
      if (c < 0) throw new EOFException("eof")
      pos += 1
      while (c != '\n') {
        sb.append(c.toChar)
        c = in.read()
        if (c < 0) throw new EOFException("eof in header")
        pos += 1
      }
      sb.toString
    }

    private def field(line: String, key: String): String = {
      require(line.startsWith(key + ": "),
        s"malformed archive header: expected '$key', got '$line'")
      line.substring(key.length + 2)
    }

    private def body(n: Int, want: Boolean): Array[Byte] = {
      val out =
        if (want) {
          val b = new Array[Byte](n)
          in.readFully(b)
          b
        } else {
          // skip is only safe because advance() bounds-checked the whole
          // record against fileLen — FileInputStream.skip happily seeks
          // PAST EOF and reports success, so an unchecked skip would
          // silently accept truncated records on the pruned path
          var left = n.toLong
          while (left > 0) {
            val s = in.skip(left)
            if (s <= 0) { if (in.read() < 0) throw new EOFException("eof in body"); left -= 1 }
            else left -= s
          }
          Array.emptyByteArray
        }
      pos += n
      out
    }

    private def advance(): Unit = {
      nextRec = null
      // loop (not recurse) over filtered-out records: a pushed predicate
      // rejecting a long run must not grow the stack
      while (nextRec == null && !done) step()
    }

    private def step(): Unit = {
      // a clean EOF at a record boundary, or a truncated tail mid-record,
      // both end iteration; malformed content at a record START throws
      val first =
        try readLine()
        catch { case _: EOFException => done = true; return }
      try {
        require(first == Magic, s"malformed archive record: '$first'")
        val id = field(readLine(), "id")
        val epoch = field(readLine(), "epoch").toInt
        val capLen = field(readLine(), "caption-length").toInt
        val bodyLen = field(readLine(), "content-length").toInt
        require(readLine().isEmpty, "missing header terminator")
        // truncation check BEFORE consuming bodies: the record's full
        // extent (bodies + separator) must lie inside the file
        if (pos + capLen + bodyLen + 1 > fileLen)
          throw new EOFException("truncated record tail")
        val keep = keepEpoch(epoch)
        val cap = body(capLen, wantCaption && keep)
        val payload = body(bodyLen, wantBytes && keep)
        body(1, want = false) // trailing record separator
        if (keep)
          nextRec = Record(id, epoch,
            if (wantCaption) new String(cap, StandardCharsets.UTF_8) else "",
            payload)
        // !keep: fall through — advance()'s loop reads the next record
      } catch { case _: EOFException => done = true } // truncated tail
    }

    advance()
    override def hasNext: Boolean = nextRec != null
    override def next(): Record = {
      val r = nextRec; advance(); r
    }
    override def close(): Unit = in.close()
  }
}
