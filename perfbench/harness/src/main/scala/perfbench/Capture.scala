package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** Counts the bytes the sink encodes and discards them. */
final class CountingNull extends OutputStream {
  @volatile var bytes = 0L
  override def write(b: Int): Unit = bytes += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = bytes += len
}

/** The `PrintStream` handed to `graft.Tail.run` as its stdout. Each line is
  * encoded as a real stdout would encode it, then kept with its arrival
  * time so the output can be checked and timed after the run. With
  * `trace` on it also records sink spans: consecutive lines with no pause
  * longer than `gapUs` between them form one span.
  */
final class Capture(trace: Boolean, gapUs: Long = 200L)
    extends PrintStream(new CountingNull, false, StandardCharsets.UTF_8) {
  private val counter = out.asInstanceOf[CountingNull]
  val lines = ArrayBuffer.empty[String]
  private var times = new Array[Long](1 << 16)
  val sinkSpans = ArrayBuffer.empty[Span]
  private var spanStart = -1L
  private var spanEnd = -1L

  def bytes: Long = counter.bytes
  def count: Int = synchronized(lines.size)
  def timeNs(i: Int): Long = synchronized(times(i))

  override def println(x: String): Unit = synchronized {
    val t0 = System.nanoTime()
    super.println(x)
    val n = lines.size
    if (n == times.length) times = java.util.Arrays.copyOf(times, n * 2)
    times(n) = t0
    lines += x
    if (trace) {
      val s = Clock.epochUs(t0)
      val e = Clock.nowUs()
      if (spanStart < 0 || s - spanEnd > gapUs) closeSpan()
      if (spanStart < 0) spanStart = s
      spanEnd = e
    }
  }

  private def closeSpan(): Unit = {
    if (spanStart >= 0) sinkSpans += Span("Tail.sink", spanStart, math.max(spanEnd, spanStart + 1), 2)
    spanStart = -1L
  }

  /** Sink spans recorded so far (the open one included). */
  def spans: Seq[Span] = synchronized { closeSpan(); sinkSpans.toSeq }

  def writeLines(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
