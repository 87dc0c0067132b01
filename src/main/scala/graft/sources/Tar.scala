package graft.sources

/** The USTAR (POSIX.1-1988) codec behind WebDataset-style tar shards — the
  * interchange format for multimodal training corpora (a shard is a plain
  * `.tar`; each sample is one or more adjacent entries named
  * `<key>.<ext>`; trainers stream shards sequentially and shuffle at the
  * shard level). Fixed 512-byte headers, octal fields, the
  * space-initialized checksum — so shards interoperate with `tar`/`tarfile`
  * and no archive library is needed.
  *
  * Spark reads and writes shards through the `graft-tar` DataSourceV2
  * table ([[graft.sources.tarv2.TarDataSource]]), which encodes entries
  * with [[entryBytes]] and decodes headers with [[parseHeader]].
  * [[readEntries]] is a plain sequential decoder of one archive stream,
  * the reference the specs check shard bytes against.
  */
object Tar {

  private val BLOCK = 512

  /** Fail-loud name limit: USTAR's name field is 100 bytes (the prefix
    * field could extend it, but WebDataset keys are short by convention —
    * a longer name is almost certainly a bug upstream).
    */
  private def checkName(name: String): Array[Byte] = {
    val b = name.getBytes("UTF-8")
    require(b.length <= 100 && b.nonEmpty,
      s"tar entry name must be 1..100 bytes, got ${b.length}: '$name'")
    b
  }

  /** One USTAR entry (header + payload + padding), deterministic: mtime
    * 0, mode 0644, uid/gid 0, empty uname/gname — byte-identical output
    * for identical input, so shard files are reproducible artifacts.
    */
  private[sources] def entryBytes(name: String, payload: Array[Byte]): Array[Byte] = {
    val nameB = checkName(name)
    val h = new Array[Byte](BLOCK)
    def putOctal(value: Long, off: Int, len: Int): Unit = {
      // len-1 octal digits, NUL terminated (the classic encoding)
      val s = java.lang.Long.toOctalString(value)
      val padded = ("0" * (len - 1 - s.length)) + s
      require(padded.length == len - 1, s"octal overflow: $value in $len")
      System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off, len - 1)
      h(off + len - 1) = 0
    }
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    putOctal(0x1a4, 100, 8)            // mode 0644
    putOctal(0, 108, 8)                // uid
    putOctal(0, 116, 8)                // gid
    putOctal(payload.length.toLong, 124, 12) // size
    putOctal(0, 136, 12)               // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum: spaces first
    h(156) = '0'                       // typeflag: regular file
    System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
    h(262) = 0
    System.arraycopy("00".getBytes("US-ASCII"), 0, h, 263, 2)
    val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
    // checksum: 6 octal digits, NUL, space
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = ("0" * (6 - cs.length)) + cs
    System.arraycopy(csPad.getBytes("US-ASCII"), 0, h, 148, 6)
    h(154) = 0
    h(155) = ' '.toByte
    val padLen = (BLOCK - payload.length % BLOCK) % BLOCK
    val out = new Array[Byte](BLOCK + payload.length + padLen)
    System.arraycopy(h, 0, out, 0, BLOCK)
    System.arraycopy(payload, 0, out, BLOCK, payload.length)
    out
  }

  /** Validate one 512-byte USTAR header block: verifies the checksum and
    * decodes (name, payload size, is-regular-file). Returns None on the
    * end-of-archive zero block. Shared by [[readEntries]] and the
    * `graft-tar` reader ([[graft.sources.tarv2]]), so the two cannot drift
    * on header semantics.
    */
  private[sources] def parseHeader(h: Array[Byte],
      context: String): Option[(String, Long, Boolean)] = {
    if (h.forall(_ == 0)) return None // end-of-archive
    val stored = new String(h, 148, 8, "US-ASCII")
      .takeWhile(c => c >= '0' && c <= '7')
    val saved = java.util.Arrays.copyOfRange(h, 148, 156)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    val sum = h.foldLeft(0L)((a, b) => a + (b & 0xff))
    System.arraycopy(saved, 0, h, 148, 8)
    require(java.lang.Long.parseLong(stored, 8) == sum,
      s"tar header checksum mismatch in $context")
    // the name field is BYTES 0..99 — a full 100-byte name has no
    // NUL terminator, so scanning the whole header would run into
    // the mode field
    val name = new String(h.take(100).takeWhile(_ != 0), "UTF-8")
    val size = java.lang.Long.parseLong(
      new String(h, 124, 12, "US-ASCII").trim.takeWhile(_ != 0), 8)
    val typeflag = h(156)
    Some((name, size, typeflag == '0' || typeflag == 0))
  }

  /** Parse every regular-file entry of a tar byte stream, verifying each
    * header checksum — a corrupt or truncated shard fails LOUD, never
    * yields silently clipped samples.
    */
  private[sources] def readEntries(in: java.io.InputStream,
      context: String): Iterator[(String, Array[Byte])] =
    new Iterator[(String, Array[Byte])] {
      private var nextEntry: (String, Array[Byte]) = null
      private var done = false
      private def readFully(n: Int): Array[Byte] = {
        val b = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(b, off, n - off)
          if (r < 0) throw new java.io.IOException(
            s"truncated tar in $context: wanted $n bytes, got $off")
          off += r
        }
        b
      }
      private def advance(): Unit = {
        if (done) return
        val h = readFully(BLOCK)
        parseHeader(h, context) match {
          case None => done = true // end-of-archive
          case Some((name, size, isFile)) =>
            require(size <= Int.MaxValue, s"oversized tar entry in $context")
            val payload = readFully(size.toInt)
            val pad = ((BLOCK - size % BLOCK) % BLOCK).toInt
            if (pad > 0) readFully(pad)
            if (isFile) nextEntry = (name, payload)
            else advance() // skip directories/links, keep scanning
        }
      }
      override def hasNext: Boolean = {
        if (nextEntry == null && !done) advance()
        nextEntry != null
      }
      override def next(): (String, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        val e = nextEntry; nextEntry = null; e
      }
    }
}
