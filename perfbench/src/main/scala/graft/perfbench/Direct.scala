package graft.perfbench

import java.nio.{BufferOverflowException, ByteBuffer}
import java.time.ZoneOffset

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.types.{StringType, StructType}

import graft.pg.wire.{PgTypes, RowCodec}

/** The in-process reference path: run a query on the engine directly and
  * render every row through the server's own RowCodec, so the digest of
  * the expected DataRow payloads can be compared byte for byte with what
  * arrived over the wire.
  */
object Direct {

  /** The per-column wire formats the server picks for a result-format
    * request: binary where the type has a binary encoding, except strings,
    * which it always sends as text.
    */
  def formats(schema: StructType, binary: Boolean): Seq[Boolean] =
    schema.fields.toSeq.map(f =>
      binary && PgTypes.binaryCapable(f.dataType) && f.dataType != StringType)

  /** Renders rows as DataRow payloads (int16 column count + fields). */
  final class Encoder(schema: StructType, binary: Boolean) {
    private val writer = RowCodec.rowWriter(schema, formats(schema, binary), ZoneOffset.UTC)
    private var buf = ByteBuffer.allocate(1 << 16)

    /** encode `row`; the payload is `bytes(0 until length)` */
    def encode(row: InternalRow): Int = {
      var done = false
      while (!done) {
        buf.clear()
        try {
          buf.putShort(schema.length.toShort)
          writer(row, buf)
          done = true
        } catch {
          case _: BufferOverflowException => buf = ByteBuffer.allocate(buf.capacity() * 2)
        }
      }
      buf.position()
    }

    def bytes: Array[Byte] = buf.array()
  }

  /** Run `tasks` on `threads` threads; results in task order. The direct
    * path's expected results are computed this way, before any window, to
    * keep a run short.
    */
  def parallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally pool.shutdownNow()
  }

  /** Start `body` on its own thread; the returned function waits for its
    * result. Expected results are computed this way while the untimed
    * warm-up runs over the wire.
    */
  def background[T](body: => T): () => T = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(() => body)
    () => try f.join() catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
  }

  def digest(df: DataFrame, binary: Boolean, ordered: Boolean): String = {
    val enc = new Encoder(df.schema, binary)
    val d = new RowDigest(ordered)
    Internals.executeToIterator(df).foreach(r => d.update(enc.bytes, 0, enc.encode(r)))
    d.result
  }
}
