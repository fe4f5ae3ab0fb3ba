package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** WARC (ISO 28500) web-archive reader — the container format of
  * Common Crawl, the corpus every web-scale training-data pipeline
  * starts from. Parses both plain `.warc` and the Common Crawl
  * `.warc.gz` layout (one gzip MEMBER per record, concatenated),
  * splits records on the spec's `WARC/...` header + Content-Length
  * framing, and for `response` records additionally parses the
  * embedded HTTP response (status line, headers, payload).
  *
  * Scale shape: record splitting is inherently sequential WITHIN a
  * file (Content-Length framing has no self-synchronizing marker), so
  * parallelism comes from files — exactly how the corpus ships.
  * Memory envelope: gzip members are inflated ONE AT A TIME and
  * records framed across member boundaries through a compacting
  * pending buffer, so peak heap per file is the COMPRESSED file (the
  * binaryFile scan's array, ≤ ~2.1 GB by Spark's own cap) plus one
  * record — a full-size ~1 GiB Common Crawl segment that inflates to
  * 4–5 GiB streams through in bounded memory. A single member
  * inflating past `memberCap` (default: the JVM array wall; pass a
  * tighter cap — CC members are ~1 MB — for decompression-bomb
  * defense on untrusted archives) quarantines the file instead of
  * dying on an uncatchable OutOfMemoryError.
  *
  * `read` is a binaryFile scan + per-partition flatMap: no driver
  * work, no shuffle; downstream text extraction starts from the
  * payload column.
  *
  * Fail-closed: any malformed framing (bad magic, missing
  * Content-Length, truncated block, corrupt gzip, over-cap member)
  * quarantines the WHOLE file as one `status = "quarantined"` row —
  * records before the corruption are suppressed, never silently
  * partial. With streaming inflation that contract needs TWO passes
  * (a validation walk that discards payloads, then a lazy emitting
  * walk): the alternative — buffering every parsed record until the
  * file proves clean — is exactly the unbounded array this reader
  * exists to avoid, and inflation is cheap next to the scan. */
object Warc {

  /** One parsed record (path added by [[read]]). `httpStatus` is 0
    * and `httpContentType` empty for non-response records; `payload`
    * is the HTTP body for responses, the raw block otherwise. */
  case class WarcRecord(recordType: String, targetUri: String,
                        warcDate: String, httpStatus: Int,
                        httpContentType: String, payload: Array[Byte])

  private val Gzip = Array[Byte](0x1F.toByte, 0x8B.toByte)

  /** Per-member inflated-size cap: defaults to the JVM array wall —
    * the envelope a single member can physically occupy — so the
    * default-cap reader accepts everything the old whole-file reader
    * could represent, while an over-wall member raises a catchable
    * exception (quarantine) instead of the BAOS's OutOfMemoryError.
    * Deployments ingesting untrusted archives pass a tighter cap
    * (Common Crawl members are ~1 MB) for decompression-bomb
    * defense. */
  val DefaultMemberCap: Long = Int.MaxValue - 16L

  /** Inflate the gzip members of a concatenated stream ONE AT A TIME
    * with PER-MEMBER verification. The JDK's GZIPInputStream
    * deliberately treats an unparseable next-member header as
    * "trailing garbage" and reports a clean end-of-stream — which
    * would turn a corrupt member boundary into a silent PARTIAL
    * parse, violating the fail-closed contract. This walk parses each
    * member header itself, inflates with a raw Inflater, and checks
    * the member's CRC32 + ISIZE trailer; any corruption — header,
    * deflate data, trailer, truncation, or an inflated size past
    * `memberCap` — throws (a regular exception, so [[recordRows]]
    * quarantines cleanly; the old whole-file accumulator instead hit
    * OutOfMemoryError past 2 GiB, which NO catch may swallow). */
  private[graft] def memberIterator(bytes: Array[Byte],
                                      memberCap: Long = DefaultMemberCap)
  : Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var off = 0
    private val buf = new Array[Byte](65536)
    override def hasNext: Boolean = off < bytes.length
    override def next(): Array[Byte] = {
      require(off + 10 <= bytes.length &&
        bytes(off) == Gzip(0) && bytes(off + 1) == Gzip(1),
        s"bad gzip member header at $off")
      require(bytes(off + 2) == 8, "unsupported gzip compression method")
      val flg = bytes(off + 3) & 0xFF
      var p = off + 10
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FNAME
      if ((flg & 16) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FCOMMENT
      if ((flg & 2) != 0) p += 2 // FHCRC
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(bytes, p, bytes.length - p)
        val member = new java.io.ByteArrayOutputStream()
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          require(n > 0 || !(inf.needsInput() || inf.needsDictionary()),
            s"truncated gzip member at $off")
          // clamp at the JVM array wall too: a user-raised cap must
          // still throw a catchable exception, never the BAOS's
          // uncatchable OutOfMemoryError
          require(member.size.toLong + n <=
              math.min(memberCap, Int.MaxValue - 16L),
            s"gzip member at $off inflates past the $memberCap-byte cap")
          member.write(buf, 0, n)
        }
        val trailer = p + (bytes.length - p - inf.getRemaining)
        require(trailer + 8 <= bytes.length, "gzip trailer missing")
        val data = member.toByteArray
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        def u32le(i: Int): Long =
          (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
            ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
        require(u32le(trailer) == crc.getValue,
          s"gzip CRC mismatch in member at $off")
        require(u32le(trailer + 4) == (data.length & 0xFFFFFFFFL),
          s"gzip ISIZE mismatch in member at $off")
        off = trailer + 8
        data
      } finally inf.end()
    }
  }

  /** Streaming record walk: frames records across gzip-member
    * boundaries through a compacting pending buffer (one member +
    * one in-flight record resident at a time — in the CC
    * member-per-record layout the buffer holds exactly one record).
    * Plain (non-gzip) input is a single chunk. Throws on malformed
    * framing at the point of corruption; records already returned are
    * the caller's fail-closed problem (see [[recordRows]]'s two-pass
    * protocol). */
  private[graft] def recordIterator(bytes0: Array[Byte],
                                      memberCap: Long = DefaultMemberCap)
  : Iterator[WarcRecord] = {
    val chunks: Iterator[Array[Byte]] =
      if (bytes0.length >= 2 && bytes0(0) == Gzip(0) && bytes0(1) == Gzip(1))
        memberIterator(bytes0, memberCap)
      else Iterator.single(bytes0)
    new Iterator[WarcRecord] {
      private var pending = Array.emptyByteArray
      private var limit = 0 // valid bytes in `pending`
      private var p = 0     // consumed prefix of `pending`
      private var nextRec: WarcRecord = null

      /** Append the next member. Amortized O(total bytes): the
        * consumed prefix compacts in place and the buffer grows
        * geometrically — an exact-size merge per member would make a
        * record spanning M members O(M²) in byte copying (a 64 KiB-
        * flushing streaming writer with a 100 MB record hits that). */
      private def refill(): Boolean = {
        if (!chunks.hasNext) return false
        val c = chunks.next()
        if (p == limit) { // common case: member == record
          pending = c; p = 0; limit = c.length
        } else {
          if (p > 0) { // compact the consumed prefix in place
            System.arraycopy(pending, p, pending, 0, limit - p)
            limit -= p; p = 0
          }
          if (limit + c.length > pending.length) {
            val need = limit.toLong + c.length
            require(need <= Int.MaxValue - 16L,
              "record spans past the array envelope")
            val g = new Array[Byte](
              math.min(Int.MaxValue - 16L,
                math.max(pending.length * 2L, need)).toInt)
            System.arraycopy(pending, 0, g, 0, limit)
            pending = g
          }
          System.arraycopy(c, 0, pending, limit, c.length)
          limit += c.length
        }
        true
      }

      /** Parse one record at `p` if the buffer holds it completely;
        * refills across member boundaries; null at clean end of
        * data; throws on malformed/truncated framing. */
      private def advance(): WarcRecord = {
        while (true) {
          // skip inter-record blank lines (the spec's two CRLFs live
          // at the END of each record; tolerate LF-only writers)
          while (p < limit &&
            (pending(p) == '\r' || pending(p) == '\n')) p += 1
          if (p == limit) {
            if (!refill()) return null
          } else headerBlockOpt(pending, p, limit) match {
            case None => // header spans a member boundary
              require(refill(), "unterminated header block")
            case Some((headers, bodyAt)) =>
              require(headers.headOption.exists(_.startsWith("WARC/")),
                s"bad WARC record magic at offset $p")
              val h = headerMap(headers.tail)
              val len64 = h.getOrElse("content-length",
                throw new IllegalArgumentException(
                  s"record at $p lacks Content-Length")).trim.toLong
              require(len64 >= 0 && len64 <= Int.MaxValue - 16L,
                s"record length $len64 beyond this reader's record envelope")
              val len = len64.toInt
              if (bodyAt + len > limit) { // block spans members
                require(refill(), s"record block at $bodyAt escapes the file")
              } else {
                val block =
                  java.util.Arrays.copyOfRange(pending, bodyAt, bodyAt + len)
                p = bodyAt + len
                val rType = h.getOrElse("warc-type", "")
                return if (rType == "response" &&
                    h.getOrElse("content-type", "")
                      .startsWith("application/http"))
                  httpResponse(block) match {
                    case (status, ct, payload) =>
                      WarcRecord(rType, h.getOrElse("warc-target-uri", ""),
                        h.getOrElse("warc-date", ""), status, ct, payload)
                  }
                else WarcRecord(rType, h.getOrElse("warc-target-uri", ""),
                  h.getOrElse("warc-date", ""), 0, "", block)
              }
          }
        }
        null // unreachable
      }

      override def hasNext: Boolean = {
        if (nextRec == null) nextRec = advance()
        nextRec != null
      }
      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("end of WARC")
        val r = nextRec
        nextRec = null
        r
      }
    }
  }

  /** Parse every record of one WARC file (gzip-sniffed). Throws on
    * malformed framing. Materializes the record seq — fixture/test
    * surface; the distributed path streams via [[recordIterator]]. */
  def parseAll(bytes0: Array[Byte]): Seq[WarcRecord] =
    recordIterator(bytes0).toSeq

  /** Header lines up to the first blank line, or None when the block
    * is not complete within `bytes[start, end)` (streaming refill
    * signal). */
  private def headerBlockOpt(bytes: Array[Byte], start: Int, end: Int)
  : Option[(Seq[String], Int)] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = start
    while (true) {
      var e = p
      while (e < end && bytes(e) != '\n') e += 1
      if (e == end) return None // incomplete: need more data
      val lineEnd = if (e > p && bytes(e - 1) == '\r') e - 1 else e
      val line = new String(bytes, p, lineEnd - p,
        java.nio.charset.StandardCharsets.UTF_8)
      p = e + 1
      if (line.isEmpty) return Some((lines.toSeq, p)) else lines += line
    }
    None // unreachable
  }

  private def headerMap(lines: Seq[String]): Map[String, String] =
    lines.flatMap { l =>
      val i = l.indexOf(':')
      if (i < 0) None else Some(l.take(i).toLowerCase -> l.drop(i + 1).trim)
    }.toMap

  /** Parse the HTTP response inside a response record's block:
    * (status, content-type, body). A block that is not an HTTP
    * response fails the file closed (the record CLAIMED msgtype
    * response). */
  private def httpResponse(block: Array[Byte])
  : (Int, String, Array[Byte]) = {
    val (lines, bodyAt) = headerBlockOpt(block, 0, block.length).getOrElse(
      throw new IllegalArgumentException("unterminated HTTP header block"))
    val status = lines.headOption match {
      case Some(s) if s.startsWith("HTTP/") =>
        s.split(" ", 3).lift(1).map(_.toInt).getOrElse(
          throw new IllegalArgumentException(s"bad status line '$s'"))
      case other =>
        throw new IllegalArgumentException(s"bad HTTP response: $other")
    }
    val hm = headerMap(lines.tail)
    (status, hm.getOrElse("content-type", ""),
      java.util.Arrays.copyOfRange(block, bodyAt, block.length))
  }

  /** `(path, content)` frame → one row per record, plus one
    * `status = "quarantined"` row per malformed file (the shared core
    * of [[read]], also driven directly by the fixture-pinned
    * queries).
    *
    * Two passes keep fail-closed AND bounded memory: pass 1 walks the
    * whole file discarding payloads as parsed (any corruption throws
    * here, before a single row is emitted); pass 2 re-walks the
    * SAME in-memory bytes lazily, emitting rows — a deterministic
    * replay of a walk that just succeeded, so it cannot throw outside
    * the try. Inflating twice trades elastic CPU for the peak-heap
    * envelope (the old single-pass reader held the whole inflated
    * file — and silently could not represent >2 GiB at all). */
  def recordRows(files: DataFrame,
                 memberCap: Long = DefaultMemberCap): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        try {
          recordIterator(bytes, memberCap).foreach(_ => ()) // pass 1: validate
          val emit = recordIterator(bytes, memberCap)
            .map(r => (p, r.recordType, r.targetUri,
              r.warcDate, r.httpStatus, r.httpContentType, r.payload,
              r.payload.length.toLong, "ok")) // pass 2: emit
          // pass 2 is a deterministic replay of the walk pass 1 just
          // completed over the SAME immutable bytes, so it cannot throw
          // — but it is consumed AFTER this try, where an exception
          // would surface as a bare Spark task failure. Guard the
          // invariant: convert any late throw into a task error naming
          // the file, so a future nondeterminism bug (config- or
          // environment-dependent parsing) diagnoses in one read
          // instead of masquerading as an unrelated executor crash.
          new Iterator[(String, String, String, String, Int, String,
              Array[Byte], Long, String)] {
            private def guarded[A](body: => A): A =
              try body catch {
                case scala.util.control.NonFatal(e) =>
                  throw new IllegalStateException(
                    s"WARC pass-2 replay diverged from pass-1 validation " +
                      s"for $p — the two-pass walk must be deterministic",
                    e)
              }
            def hasNext: Boolean = guarded(emit.hasNext)
            def next(): (String, String, String, String, Int, String,
                Array[Byte], Long, String) = guarded(emit.next())
          }
        } catch {
          // NonFatal: an InterruptedException from a Spark task kill
          // must propagate (a bare Exception catch would convert a
          // speculative-execution kill into a bogus quarantine row)
          case scala.util.control.NonFatal(_) =>
            Iterator.single((p, "", "", "", 0, "",
              Array.emptyByteArray, 0L, "quarantined"))
        }
      }
      .toDF("path", "record_type", "target_uri", "warc_date",
        "http_status", "http_content_type", "payload", "payload_len",
        "status")
  }

  /** Distributed WARC scan: one row per record, plus one
    * `status = "quarantined"` row per malformed file. */
  def read(spark: SparkSession, path: String, glob: String = "*",
           memberCap: Long = DefaultMemberCap): DataFrame =
    recordRows(spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path), memberCap)

  /** Structured Streaming twin of [[read]]: WARC files arriving under
    * `path` become micro-batches of records with the same row shape
    * and whole-file quarantine semantics — the per-file walk is
    * stateless, so [[recordRows]] composes with a streaming
    * binaryFile scan unchanged (each file is processed exactly once
    * by the source's file tracking; no keyed state). This is the
    * crawl-firehose entry: compose with Html.extractText /
    * Clean.qualityKeep / StreamingNearDup for incremental ingestion
    * of an arriving crawl. */
  def readStream(spark: SparkSession, path: String, glob: String = "*",
                 memberCap: Long = DefaultMemberCap): DataFrame =
    recordRows(spark.readStream.format("binaryFile")
      // binaryFile's schema is FIXED by the format, but streaming
      // file sources refuse to infer — state it verbatim
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, " +
          "length BIGINT, content BINARY"))
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path), memberCap)
}
