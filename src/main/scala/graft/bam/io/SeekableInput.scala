package graft.bam.io

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path => HPath}

/** Minimal positioned-read abstraction over a file, so the codec works both
  * on plain local files (tests, fixtures) and on any Hadoop filesystem
  * (the 100 TB path: the DSv2 reader opens via the executor's Hadoop conf).
  */
trait SeekableInput extends AutoCloseable {
  def length: Long

  /** The file's name in error messages. */
  def name: String = getClass.getSimpleName

  /** Read up to `len` bytes at absolute position `pos`; returns bytes read,
    * -1 at EOF. */
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int

  /** Read exactly `len` bytes at `pos`, or as many as exist before EOF;
    * returns count actually read. */
  final def readFullyAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    var done = 0
    while (done < len) {
      val n = readAt(pos + done, buf, off + done, len - done)
      if (n < 0) return done
      done += n
    }
    done
  }
}

final class LocalFileInput(path: String) extends SeekableInput {
  override def name: String = path
  private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
  override val length: Long = ch.size()
  override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(buf, off, len), pos)
  override def close(): Unit = ch.close()
}

final class HadoopInput(in: FSDataInputStream, override val length: Long,
                        override val name: String) extends SeekableInput {
  override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    in.read(pos, buf, off, len)
  override def close(): Unit = in.close()
}

object SeekableInput {
  /** Open via Hadoop FS for any scheme (file://, hdfs://, s3a://…); plain
    * paths with no scheme fall back to the fast local channel. */
  def open(path: String, conf: Configuration = new Configuration()): SeekableInput =
    if (!path.contains("://")) new LocalFileInput(path)
    else {
      val p = new HPath(path)
      val fs = FileSystem.get(p.toUri, conf)
      new HadoopInput(fs.open(p), fs.getFileStatus(p).getLen, path)
    }
}
