package graft.store

import java.io.{EOFException, FileNotFoundException, IOException}
import java.nio.ByteBuffer
import java.nio.channels.{ClosedByInterruptException, ClosedChannelException, FileChannel}
import java.nio.file.{NoSuchFileException, StandardOpenOption}

import org.apache.hadoop.fs.{ChecksumException, FSInputStream, LocalFileSystem, Path}

/**
 * A shard file on a [[LocalFileSystem]], held open for a reader's
 * lifetime and verified against the same `.crc` sidecar Hadoop writes.
 *
 * Why it exists: `LocalFileSystem`'s stream answers every positioned read
 * with a NEW checksum checker — a `getFileStatus`, opens of the data file
 * and its `.crc`, a sidecar header read, the chunk verify, two closes. A
 * warm kv lookup makes two preads, so that setup, not the binary search,
 * was the serving path's cost. This stream holds one [[FileChannel]] on
 * the data file and one on the sidecar. Every read, positioned or
 * sequential, pulls the whole `bytesPerSum` chunks it touches with one
 * pread, preads their CRC32s from the held sidecar, and verifies each
 * chunk before returning a byte of it.
 *
 * Parity with `ChecksumFileSystem` (each pinned by `LocalShardStreamSpec`):
 *  - no sidecar (or an unreadable one, or verification switched off on
 *    the filesystem) → reads are unverified;
 *  - a mismatch throws [[ChecksumException]] naming the file and the
 *    chunk offset, and quarantines nothing (replication 1 never retries);
 *  - a missing data file throws [[FileNotFoundException]] at open;
 *  - nothing proportional to the file is held: sums are read per call.
 *
 * Concurrency: positioned reads are safe from any number of threads; the
 * sequential read/seek pointer belongs to one caller at a time (the
 * [[KvFile.Reader]] iterator contract). An interrupted reader thread
 * closes a `FileChannel` for every thread, so a read that meets a closed
 * channel while this stream is still open reopens it — the interrupted
 * caller still gets its exception; every other caller retries and
 * answers.
 */
private[store] final class LocalShardStream private (
    dataFile: java.nio.file.Path,
    crcFile: Option[java.nio.file.Path],
    name: String) extends FSInputStream {

  import LocalShardStream._

  private val data = new HeldChannel(dataFile)
  /** Length of the immutable shard file, from the held channel at open. */
  val length: Long = data.size()

  // (sidecar, bytesPerSum) when reads are verified; see openSidecar
  private val (sums, bytesPerSum): (Option[HeldChannel], Int) =
    try crcFile.flatMap(openSidecar) match {
      case Some((h, bps)) => (Some(h), bps)
      case None => (None, 0)
    } catch { case e: Throwable => data.close(); throw e }

  /** The sidecar and its chunk size. Its header is the one Hadoop writes,
    * "crc\0" + bytesPerSum, then one CRC32 per chunk. A sidecar that is
    * missing, unreadable or not a checksum file reads unverified, as
    * `ChecksumFileSystem` does; only an interrupt is rethrown (it says
    * nothing about the file). */
  private def openSidecar(f: java.nio.file.Path): Option[(HeldChannel, Int)] = {
    val h =
      try new HeldChannel(f)
      catch { case _: IOException => return None }
    val hdr = ByteBuffer.allocate(HeaderLen)
    try h.readFully(hdr, 0L, allowShort = true)
    catch {
      case e: IOException =>
        h.close()
        if (e.isInstanceOf[ClosedChannelException]) throw e
        return None
    }
    hdr.flip()
    val magic = new Array[Byte](CrcMagic.length)
    if (hdr.remaining() < HeaderLen || { hdr.get(magic); !java.util.Arrays.equals(magic, CrcMagic) }) {
      h.close()
      None
    } else {
      val bps = hdr.getInt
      if (bps <= 0) {
        h.close()
        throw new ChecksumException(s"$name: corrupt checksum file $f (bytesPerSum=$bps)", 0L)
      }
      Some((h, bps))
    }
  }

  private var pos = 0L
  @volatile private var closed = false

  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
    validatePositionedReadArgs(position, b, off, len)
    if (len == 0) return 0
    if (position >= length) return -1
    val n = math.min(math.min(len.toLong, length - position), MaxReadBytes.toLong).toInt
    sums match {
      case None =>
        data.readFully(ByteBuffer.wrap(b, off, n), position)
      case Some(s) =>
        val bps = bytesPerSum.toLong
        val first = position / bps * bps
        val end = math.min(length, (position + n + bps - 1) / bps * bps)
        val span = (end - first).toInt
        val aligned = first == position && end == position + n
        val buf = if (aligned) b else new Array[Byte](span)
        val at = if (aligned) off else 0
        data.readFully(ByteBuffer.wrap(buf, at, span), first)
        verify(s, first, buf, at, span)
        if (!aligned) System.arraycopy(buf, (position - first).toInt, b, off, n)
    }
    n
  }

  /** Check every chunk of `buf[at, at+span)` (file bytes from the
    * chunk-aligned `first`) against its stored CRC32. */
  private def verify(s: HeldChannel, first: Long, buf: Array[Byte], at: Int, span: Int): Unit = {
    val chunks = (span + bytesPerSum - 1) / bytesPerSum
    val stored = ByteBuffer.allocate(4 * chunks)
    s.readFully(stored, HeaderLen + 4L * (first / bytesPerSum), allowShort = true)
    stored.flip()
    val crc = new java.util.zip.CRC32
    var i = 0
    while (i < chunks) {
      val chunkPos = first + i.toLong * bytesPerSum
      // a sidecar shorter than the data: Hadoop's checker fails the same way
      if (stored.remaining() < 4)
        throw new ChecksumException(s"Checksum error: $name at $chunkPos (no stored checksum)", chunkPos)
      val from = at + i * bytesPerSum
      crc.reset()
      crc.update(buf, from, math.min(bytesPerSum, at + span - from))
      val expect = stored.getInt
      if (crc.getValue.toInt != expect)
        throw new ChecksumException(
          s"Checksum error: $name at $chunkPos exp: $expect got: ${crc.getValue.toInt}", chunkPos)
      i += 1
    }
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    // end a sequential read on a chunk boundary: the next one then starts
    // aligned and reads straight into the caller's buffer, no scratch copy
    val want =
      if (bytesPerSum > 0 && len > bytesPerSum) ((pos + len) / bytesPerSum * bytesPerSum - pos).toInt
      else len
    val r = read(pos, b, off, want)
    if (r > 0) pos += r
    r
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) <= 0) -1 else one(0) & 0xff
  }

  override def skip(n: Long): Long = {
    val k = math.max(0L, math.min(n, length - pos))
    pos += k
    k
  }

  override def seek(p: Long): Unit = {
    if (p < 0 || p > length) throw new EOFException(s"$name: cannot seek to $p (length $length)")
    pos = p
  }

  override def getPos: Long = pos

  override def seekToNewSource(targetPos: Long): Boolean = false

  override def close(): Unit = {
    closed = true
    data.close()
    sums.foreach(_.close())
  }

  /** A file channel that survives another thread's interrupt: see the
    * class doc. Reopens are serialized on the stream and refused once it
    * is closed, so a close racing a reopen leaks nothing. */
  private final class HeldChannel(file: java.nio.file.Path) {
    @volatile private var ch: FileChannel = openChannel(file)

    def size(): Long = ch.size()

    /** Fill `dst` from file offset `at`; EOF before it is full throws
      * unless `allowShort`. */
    def readFully(dst: ByteBuffer, at: Long, allowShort: Boolean = false): Unit = {
      var p = at
      while (dst.hasRemaining) {
        val r = pread(dst, p)
        if (r < 0) {
          if (allowShort) return
          throw new EOFException(s"$name: unexpected EOF at $p reading $file")
        }
        p += r
      }
    }

    private def pread(dst: ByteBuffer, at: Long): Int = {
      var reopens = 0
      while (true) {
        val c = ch
        try return c.read(dst, at)
        catch {
          // a failed read leaves dst untouched, so a retry is exact
          case e: ClosedChannelException =>
            reopen(c)
            if (e.isInstanceOf[ClosedByInterruptException] ||
                Thread.currentThread().isInterrupted || reopens >= MaxReopens) throw e
            reopens += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

    private def reopen(stale: FileChannel): Unit = LocalShardStream.this.synchronized {
      if (closed) throw new IOException(s"$name: stream is closed")
      if (ch eq stale) ch = openChannel(file)
    }

    def close(): Unit = LocalShardStream.this.synchronized(ch.close())
  }
}

private[store] object LocalShardStream {

  /** Header of a Hadoop `.crc` sidecar: magic + bytesPerSum. */
  private val CrcMagic: Array[Byte] = Array('c'.toByte, 'r'.toByte, 'c'.toByte, 0.toByte)
  private val HeaderLen = 8

  /** Bytes one read call returns at most (callers loop, as `readFully`
    * does): bounds the chunk-aligned scratch copy of an unaligned read. */
  private val MaxReadBytes: Int = 4 << 20

  /** Consecutive reopens one read tolerates before giving up — other
    * threads being interrupted in a tight loop must not spin it forever. */
  private val MaxReopens = 16

  private def openChannel(file: java.nio.file.Path): FileChannel =
    try FileChannel.open(file, StandardOpenOption.READ)
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
    }

  /** Open `path` on `fs` held and verified, with the `.crc` sidecar
    * `fs` itself would consult (none when `fs` does not verify). */
  def open(fs: LocalFileSystem, path: Path): LocalShardStream = {
    val crc =
      if (fs.getVerifyChecksum) Some(fs.pathToFile(fs.getChecksumFile(path)).toPath)
      else None
    new LocalShardStream(fs.pathToFile(path).toPath, crc, path.toString)
  }
}
