package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

/** `bulk`: one connection drains `SELECT * FROM lineitem` in text and in
  * binary result format, and loads seeded rows with COPY FROM STDIN into a
  * fresh table. Row encoding, chunked flushes and COPY parsing dominate;
  * analysis and planning are a small share (see `bulk.out_first_row_share`
  * in the run record).
  */
final class Bulk(stack: Stack, seed: Long) extends Workload {
  import Bulk._

  private val input = copyInput(seed, CopyRows)
  private var expectedText: String = _
  private var expectedBinary: String = _
  private var tables = 0
  private var client: WireClient = _

  /** The direct-path digests are computed while one untimed cycle runs
    * over the wire; that cycle is checked once they exist.
    */
  override def prepare(): Window = {
    val digests = Direct.background(Direct.parallel(2)(Seq(false, true).map(b => () =>
      Direct.digest(stack.spark.sql(Extract), binary = b, ordered = false))))
    client = new WireClient(stack.port)
    client.connect()
    val recorded = new Window
    cycles(0, recorded, check = false)
    val Seq(text, binary) = digests()
    expectedText = text
    expectedBinary = binary
    val warm = new Window
    warm.checkAll(recorded, Map("extract_text" -> text, "extract_binary" -> binary))
    warm
  }

  /** Whole extract-extract-copy cycles until `seconds` have passed; returns
    * each cycle's latency, the sum of its three statements' (the checks
    * around the COPY are not counted).
    */
  private def cycles(seconds: Int, w: Window, check: Boolean = true): Seq[Long] = {
    val latencies = mutable.ArrayBuffer.empty[Long]
    val deadline = Workload.deadline(seconds)
    val c = client
    val cpu0 = Workload.threadCpuNs()
    val t0 = System.nanoTime()
    do {
      val text = c.execute("", Nil, new RowDigest(false), sql = Extract)
      text.label = "extract_text"
      w.check("extract text", text, if (check) expectedText else null)
      val binary = c.execute("", Nil, new RowDigest(false), sql = Extract, resultBinary = true)
      binary.label = "extract_binary"
      w.check("extract binary", binary, if (check) expectedBinary else null)
      latencies += text.wallNs + binary.wallNs + copy(c, w).wallNs
    } while (System.nanoTime() < deadline)
    w.wallNs = System.nanoTime() - t0
    w.clientCpuNs = Workload.threadCpuNs() - cpu0
    latencies.toSeq
  }

  override def close(): Unit = if (client != null) client.close()

  /** COPY the seeded rows into a fresh table, check them by count and by
    * content aggregates, drop the table; returns the COPY's reply
    */
  private def copy(c: WireClient, w: Window): Reply = {
    tables += 1
    val table = s"perfbench_copy_$tables"
    def aux(sql: String, capture: Boolean = false): Reply = {
      val r = c.simpleQuery(sql, capture)
      w.synchronized { w.auxStatements += 1 }
      if (!r.ok) throw new IllegalStateException(s"$sql: ${r.error}")
      r
    }
    aux(s"CREATE TABLE $table ($CopyColumns) USING parquet")
    val r = c.copyIn(s"COPY $table FROM STDIN", input.chunks.iterator)
    r.label = "copy"
    w.check("copy", r, null)
    if (r.ok) {
      w.synchronized { w.copyDoneNs += r.completeNs - c.lastCopyDoneNs }
      val got = aux(s"SELECT $Aggregates FROM $table", capture = true).values
      if (r.tag != s"COPY ${input.rows}" || got.map(_.toSeq) != Seq(input.aggregates))
        w.fail(s"copy: tag ${r.tag}, aggregates ${got.map(_.mkString(","))} != " +
          input.aggregates.mkString(","))
    }
    aux(s"DROP TABLE $table")
    r
  }

  override def window(seconds: Int): Window = {
    val w = new Window
    val latencies = cycles(seconds, w)
    val extracts = w.replies.filter(_.digest != null)
    val copies = w.replies.filter(_.digest == null)
    w.summarize(extracts.map(_.rows).sum + copies.size.toLong * input.rows, latencies)
    w.named("bulk.out_rows_per_s") =
      (Stats.rate(extracts.map(_.rows).sum, extracts.map(_.wallNs).sum), "rows/s")
    w.named("bulk.out_first_row_ms") =
      (Stats.median(extracts.map(r => Stats.ms(r.firstRowNs - r.sentNs)).toSeq), "ms")
    // the per-statement fixed cost's share of an extract, at most
    w.named("bulk.out_first_row_share") =
      (extracts.map(r => r.firstRowNs - r.sentNs).sum.toDouble / extracts.map(_.wallNs).sum,
        "fraction")
    w.named("bulk.in_rows_per_s") =
      (Stats.rate(copies.size.toLong * input.rows, copies.map(_.wallNs).sum), "rows/s")
    w.replies.groupBy(_.label).foreach { case (k, rs) =>
      w.detail(s"$k.p50_ms") = Stats.median(rs.map(r => Stats.ms(r.wallNs)).toSeq)
    }
    w
  }

  override def replay(layers: Layers): Unit = {
    val session = Replay.serverSession(stack.spark)
    try Replay.statement(layers, session.spark, Extract, Nil, Seq(false, true))
    finally session.close()
    Replay.copy(layers, stack, input)
  }
}

object Bulk {
  val Extract = "SELECT * FROM lineitem"
  val CopyRows = 100000
  val CopyColumns = "id BIGINT, grp INT, label STRING, amount DECIMAL(12,2), ts TIMESTAMP"
  /** content checks of a COPY target, rendered as the server sends them */
  val Aggregates: String = "COUNT(*), SUM(id), SUM(grp), COUNT(DISTINCT label), " +
    "SUM(LENGTH(label)), COUNT(amount), SUM(amount), SUM(unix_seconds(ts))"

  /** COPY text-format input: CopyData chunks plus the expected values of
    * [[Aggregates]]
    */
  final case class CopyInput(rows: Int, chunks: Seq[Array[Byte]], aggregates: Seq[String])

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  /** `n` seeded rows: ids, groups, labels (some with a tab or a backslash,
    * which COPY must unescape), two-decimal amounts with some NULLs, and
    * timestamps
    */
  def copyInput(seed: Long, n: Int): CopyInput = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    val base = LocalDateTime.parse("2020-01-01T00:00:00").toEpochSecond(ZoneOffset.UTC)
    val chunks = mutable.ArrayBuffer.empty[Array[Byte]]
    val sb = new StringBuilder
    var sumId = BigInt(0)
    var sumGrp = 0L
    var sumLen = 0L
    var nAmount = 0L
    var sumAmount = BigDecimal(0)
    var sumTs = BigInt(0)
    val labels = mutable.HashSet.empty[String]
    (0 until n).foreach { i =>
      val id = (r.nextLong() & Long.MaxValue) % 1000000000000L
      val grp = r.nextInt(1000)
      val label = r.nextInt(40) match {
        case 0 => s"tab\there-${grp % 50}"
        case 1 => s"back\\slash-${grp % 50}"
        case _ => s"label-${r.nextInt(5000)}"
      }
      val amount =
        if (r.nextInt(97) == 0) None
        else Some(BigDecimal(r.nextLong() % 10000000000L, 2))
      val ts = base + r.nextInt(86400 * 365)
      sumId += id
      sumGrp += grp
      sumLen += label.length
      labels += label
      amount.foreach { a => nAmount += 1; sumAmount += a }
      sumTs += ts
      sb.append(id).append('\t').append(grp).append('\t').append(escape(label)).append('\t')
        .append(amount.map(_.bigDecimal.toPlainString).getOrElse("\\N")).append('\t')
        .append(TsFormat.format(LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC)))
        .append('\n')
      if (sb.length >= 60000 || i == n - 1) {
        chunks += sb.toString.getBytes(UTF_8)
        sb.clear()
      }
    }
    CopyInput(n, chunks.toSeq, Seq(n.toString, sumId.toString, sumGrp.toString,
      labels.size.toString, sumLen.toString, nAmount.toString,
      sumAmount.setScale(2).bigDecimal.toPlainString, sumTs.toString))
  }
}
