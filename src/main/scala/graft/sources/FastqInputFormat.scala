package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.hadoop.util.LineReader

/** Split-parallel FASTQ input (spec: reference fastdoop FASTQReadsRecordReader
  * behavior — own implementation on Hadoop's new-API FileInputFormat).
  *
  * A plain text read of FASTQ cannot parallelize safely: records are 4 lines
  * and a byte split lands mid-record, so the round-2 implementation funneled
  * each file into ONE task (a 50 GB file = one task at 100 TB scale). This
  * format accepts splits of any size and makes each reader sync itself to
  * the first record boundary after its split start. The split size is the
  * caller's: [[Sequences.fastq]] sizes splits to the session's cores
  * (`max(1 MiB, ceil(bytes / defaultParallelism))`, capped by Hadoop at the
  * block size) unless `mapreduce.input.fileinputformat.split.maxsize` is
  * already set, in which case that setting wins. Each reader:
  *
  *  - discard the (possibly partial) first line, as Hadoop's line reader does;
  *  - scan forward to the first line L0 with L0(0)=='@' and L2(0)=='+'. In
  *    well-formed FASTQ this identifies a header unambiguously: sequence
  *    lines are base letters, '+' lines don't start with '@', and a quality
  *    line starting with '@' is followed by (header, sequence), never a '+'
  *    line two later.
  *
  * A record belongs to the split containing the first byte of its header
  * line (boundary-exact: a header starting exactly at `end` belongs to this
  * split, and the next reader's discard-first-line rule skips it). Readers
  * run past `end` to finish their last record, so no record is lost or
  * duplicated. Compressed files (gz/bz2) are not byte-addressable and fall
  * back to one split per file.
  *
  * Key = byte offset of the record's header line; value = the 4 record lines
  * joined with '\n'.
  */
final class FastqInputFormat extends FileInputFormat[LongWritable, Text] {

  override def isSplitable(context: JobContext, file: Path): Boolean =
    new CompressionCodecFactory(context.getConfiguration).getCodec(file) == null

  override def createRecordReader(split: InputSplit, context: TaskAttemptContext)
      : RecordReader[LongWritable, Text] = new FastqRecordReader
}

final class FastqRecordReader extends RecordReader[LongWritable, Text] {

  private var start = 0L
  private var end = 0L
  private var pos = 0L
  private var in: LineReader = _
  private var toClose: java.io.Closeable = _
  private val key = new LongWritable
  private val value = new Text
  private var done = false

  // 3-line lookahead: (line text, byte offset of line start)
  private val ahead = collection.mutable.ArrayDeque.empty[(Text, Long)]

  override def initialize(split: InputSplit, context: TaskAttemptContext): Unit = {
    val fileSplit = split.asInstanceOf[FileSplit]
    val conf = context.getConfiguration
    val path = fileSplit.getPath
    val fs = path.getFileSystem(conf)
    val fileIn = fs.open(path)
    toClose = fileIn
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    if (codec != null) {
      // not splittable: single split covering the whole file, stream offsets
      // are decompressed positions (only used relative to Long.MaxValue here)
      in = new LineReader(codec.createInputStream(fileIn), conf)
      start = 0L
      end = Long.MaxValue
      pos = 0L
    } else {
      start = fileSplit.getStart
      end = start + fileSplit.getLength
      fileIn.seek(start)
      in = new LineReader(fileIn, conf)
      pos = start
      if (start != 0) discardLine()
    }
  }

  /** Read one raw line, returning its start offset, or -1 at EOF. */
  private def readLine(t: Text): Long = {
    val lineStart = pos
    val n = in.readLine(t)
    if (n <= 0) -1L else { pos += n; lineStart }
  }

  private def discardLine(): Unit = readLine(new Text)

  private def fillAhead(n: Int): Boolean = {
    while (ahead.size < n) {
      val t = new Text
      val at = readLine(t)
      if (at < 0) return false
      ahead.append((t, at))
    }
    true
  }

  private def startsWith(t: Text, c: Byte): Boolean =
    t.getLength > 0 && t.getBytes()(0) == c

  /** Emit the next record whose header starts within this split, skipping
    * forward over any lines that are not a valid record start — this both
    * syncs a mid-record split start to the next boundary and drops malformed
    * junk between records. Validation rule: L0 starts with '@' AND L2 starts
    * with '+' (unambiguous in well-formed FASTQ, see class doc). */
  override def nextKeyValue(): Boolean = {
    if (done) return false
    while (true) {
      if (!fillAhead(4)) { done = true; return false }
      val (l0, at0) = ahead.head
      if (at0 > end) { done = true; return false } // next record: next split's
      if (startsWith(l0, '@') && startsWith(ahead(2)._1, '+')) {
        key.set(at0)
        val sb = new StringBuilder(
          l0.getLength + ahead(1)._1.getLength + ahead(2)._1.getLength +
            ahead(3)._1.getLength + 3)
        sb.append(l0.toString).append('\n').append(ahead(1)._1.toString)
          .append('\n').append(ahead(2)._1.toString).append('\n')
          .append(ahead(3)._1.toString)
        value.set(sb.toString)
        ahead.remove(0, 4)
        return true
      }
      ahead.removeHead()
    }
    false // unreachable
  }

  override def getCurrentKey: LongWritable = key
  override def getCurrentValue: Text = value

  override def getProgress: Float =
    if (end == start) 1.0f
    else math.min(1.0f, (pos - start).toFloat / (end - start).toFloat)

  override def close(): Unit = {
    if (in != null) in.close()
    else if (toClose != null) toClose.close()
  }
}
