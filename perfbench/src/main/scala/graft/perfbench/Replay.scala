package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Internals

import graft.pg.{PgCatalog, PgDialect, PgRewrite}
import graft.pg.server.{PgCopy, PgSession, SessionRegistry}
import graft.pg.wire.ParamCodec
import graft.queries.CtePrune

/** Per-layer samples of the in-process replay, by metric name. */
final class Layers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** time `body`, recording nanoseconds divided by `unitNs` */
  def time[T](metric: String, unitNs: Double)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    add(metric, (System.nanoTime() - t0) / unitNs)
    r
  }

  def has(metric: String): Boolean = samples.contains(metric)
  def median(metric: String): Double = Stats.median(samples(metric).toSeq)

  def json: String = Json.obj(samples.toSeq.map { case (k, xs) => k -> Json.arr(xs.toSeq.map(Json.num)) }: _*)
}

/** The in-process replay: the calls the server makes for a statement, made
  * directly and timed one by one. No probe sits in the engine; each layer
  * is timed around its public entry point.
  */
object Replay {
  /** rows kept per result to time the row encoder on */
  val EncodeSample = 50000

  /** a session set up as the server sets up a connection's session */
  def serverSession(base: SparkSession): PgSession = {
    val s = SessionRegistry.create(base)
    PgCatalog.register(s.spark)
    PgDialect.registerParamFunction(s.spark)
    Internals.setActiveSession(s.spark)
    s
  }

  /** One statement through every layer: CtePrune + PgRewrite, the dialect
    * parser, parameter decode, bind, analysis, optimization, physical
    * planning, execution (rows drained), then the row encoder once per
    * result format in `binary`.
    */
  def statement(l: Layers, spark: SparkSession, text: String, params: Seq[(String, Int)],
      binary: Seq[Boolean]): Unit = {
    val pruned = CtePrune.prune(text)
    l.time("pg.rewrite_us", 1e3)(PgRewrite(pruned))
    val plan = l.time("pg.parse_ms", 1e6)(PgDialect.parse(spark, pruned))
    val values = params.zipWithIndex.map { case ((v, oid), i) =>
      (i + 1) -> l.time("pg.wire.param_decode_us", 1e3)(ParamCodec.decode(v.getBytes(UTF_8), oid, 0))
    }.toMap[Int, Any]
    val bound = l.time("pg.bind_us", 1e3)(PgDialect.bind(plan, values))
    val schema = l.time("spark.analyze_ms", 1e6)(Internals.analyzedSchema(spark, bound))
    val df = Internals.ofRows(spark, bound)
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    l.time("spark.optimize_ms", 1e6)(qe.optimizedPlan)
    l.time("spark.plan_ms", 1e6)(qe.executedPlan)
    val kept = mutable.ArrayBuffer.empty[InternalRow]
    l.time("spark.execute_ms", 1e6) {
      val it = Internals.executeToIterator(df)
      while (it.hasNext) {
        val r = it.next()
        if (kept.size < EncodeSample) kept += r.copy()
      }
    }
    if (kept.nonEmpty) binary.foreach { b =>
      val enc = new Direct.Encoder(schema, b)
      val t0 = System.nanoTime()
      kept.foreach(enc.encode)
      l.add("pg.wire.encode_ns_per_row", (System.nanoTime() - t0).toDouble / kept.size)
    }
  }

  /** text-format parameters through the decoder alone */
  def params(l: Layers, params: Seq[(String, Int)]): Unit =
    params.foreach { case (v, oid) =>
      l.time("pg.wire.param_decode_us", 1e3)(ParamCodec.decode(v.getBytes(UTF_8), oid, 0))
    }

  /** COPY FROM STDIN through PgCopy into a fresh table: every CopyData
    * chunk through `feed` (which appends each full batch), then `finish`
    */
  def copy(l: Layers, stack: Stack, input: Bulk.CopyInput): Unit = {
    val session = serverSession(stack.spark)
    val spark = session.spark
    val table = "perfbench_copy_replay"
    try {
      spark.sql(s"CREATE TABLE $table (${Bulk.CopyColumns}) USING parquet")
      val stmt = PgCopy.parse(s"COPY $table FROM STDIN") match {
        case Some(ci: PgCopy.CopyIn) => ci
        case other => throw new IllegalStateException(s"COPY parsed as $other")
      }
      val ci = new PgCopy.CopyInSession(spark, stmt)
      l.time("pg.server.copy_feed_ms", 1e6)(input.chunks.foreach(ci.feed))
      val n = l.time("pg.server.copy_finish_ms", 1e6)(ci.finish())
      if (n != input.rows) throw new IllegalStateException(s"COPY replay wrote $n of ${input.rows} rows")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      session.close()
    }
  }
}
