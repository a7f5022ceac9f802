package graft.perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Fast checks of the client's frame reader and of the benchmark's
  * arithmetic. Every run executes them before it measures anything.
  */
object SelfTest {
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new AssertionError(s"self-test: $what")

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  /** an InputStream that returns at most `chunk` bytes per read */
  private final class Trickle(bytes: Array[Byte], chunk: Int) extends InputStream {
    private var pos = 0
    override def read(): Int =
      if (pos >= bytes.length) -1 else { pos += 1; bytes(pos - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(math.min(len, chunk), bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      }
  }

  private def frames(): (Array[Byte], Seq[(Char, Array[Byte])]) = {
    val big = Array.tabulate[Byte](200000)(i => (i * 31).toByte)
    val row = {
      val b = new ByteArrayOutputStream
      val d = new DataOutputStream(b)
      d.writeShort(3)
      d.writeInt(2); d.write("42".getBytes(UTF_8))
      d.writeInt(-1)
      d.writeInt(5); d.write("héllo".getBytes(UTF_8).take(5))
      b.toByteArray
    }
    val msgs = Seq('1' -> Array.emptyByteArray, 'D' -> row, 'D' -> big,
      'C' -> "SELECT 2\u0000".getBytes(UTF_8), 'Z' -> Array('I'.toByte))
    val b = new ByteArrayOutputStream
    val d = new DataOutputStream(b)
    msgs.foreach { case (t, p) => d.writeByte(t); d.writeInt(4 + p.length); d.write(p) }
    (b.toByteArray, msgs)
  }

  def frameReader(): Unit = {
    val (bytes, msgs) = frames()
    for (chunk <- Seq(1, 3, 7, 4096, bytes.length)) {
      val r = new FrameReader(new Trickle(bytes, chunk), initialBytes = 16)
      var lastStamp = 0L
      msgs.foreach { case (t, p) =>
        check(r.next() == t, s"chunk $chunk: type ${r.tpe} != $t")
        check(r.payloadLen == p.length &&
          java.util.Arrays.equals(r.buf.slice(r.payloadOff, r.payloadOff + r.payloadLen), p),
          s"chunk $chunk: payload of '$t' differs")
        check(r.arrivedNs >= lastStamp && r.arrivedNs > 0, s"chunk $chunk: stamps go backwards")
        lastStamp = r.arrivedNs
        if (t == 'D' && p.length < 100) {
          check(WireClient.fields(r) == IndexedSeq("42", null, new String(p.takeRight(5), UTF_8)),
            s"DataRow fields ${WireClient.fields(r)}")
        }
        if (t == 'C') check(r.payloadString == "SELECT 2", s"tag '${r.payloadString}'")
      }
      check(r.bytesRead == bytes.length, s"chunk $chunk: read ${r.bytesRead} of ${bytes.length}")
      val eof = try { r.next(); false } catch { case _: java.io.EOFException => true }
      check(eof, s"chunk $chunk: no EOF after the last message")
    }
  }

  def digests(): Unit = {
    val rows = Seq("a", "bb", "ccc").map(_.getBytes(UTF_8))
    def d(ordered: Boolean, rs: Seq[Array[Byte]]): String = {
      val g = new RowDigest(ordered)
      rs.foreach(r => g.update(r, 0, r.length))
      g.result
    }
    check(d(ordered = false, rows) == d(ordered = false, rows.reverse), "unordered digest depends on order")
    check(d(ordered = true, rows) != d(ordered = true, rows.reverse), "ordered digest ignores order")
    check(d(ordered = false, rows) != d(ordered = false, rows.take(2)), "unordered digest ignores a row")
  }

  def arithmetic(): Unit = {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    check(close(Stats.median(xs), 3.0), "median of 1..5")
    check(close(Stats.percentile(xs, 0.0), 1.0), "p0 of 1..5")
    check(close(Stats.percentile(xs, 1.0), 5.0), "p100 of 1..5")
    check(close(Stats.percentile(xs, 0.25), 2.0), "p25 of 1..5")
    check(close(Stats.percentile((1 to 10).map(_.toDouble), 0.9), 9.1), "p90 of 1..10")
    check(close(Stats.percentile((1 to 100).map(_.toDouble), 0.99), 99.01), "p99 of 1..100")
    check(close(Stats.median(Seq(2.0, 1.0)), 1.5), "median of two")
    check(close(Stats.percentile(Seq(7.0), 0.99), 7.0), "p99 of one")
    check(close(Stats.rate(10, 2000000000L), 5.0), "10 events in 2 s")
    check(close(Stats.ms(1500000L), 1.5), "1.5 ms")
    val bad = try { Stats.rate(1, 0); false } catch { case _: IllegalArgumentException => true }
    check(bad, "rate over an empty window")

    val r = new Reply(new RowDigest(true))
    r.sentNs = 100; r.parseNs = 130; r.bindNs = 150; r.firstRowNs = 400; r.readyNs = 460
    check(Phases.of(r) == Phases(30, 20, 250, 60), s"phases ${Phases.of(r)}")
    r.parseNs = 0
    check(Phases.of(r) == Phases(0, 50, 250, 60), s"phases without Parse ${Phases.of(r)}")
    r.completeNs = 450
    check(Trace.inOrder(r), "stamps in protocol order read as out of order")
    r.bindNs = 410
    check(!Trace.inOrder(r), "BindComplete after the first DataRow reads as in order")
  }

  def run(): Unit = {
    frameReader()
    digests()
    arithmetic()
  }
}
