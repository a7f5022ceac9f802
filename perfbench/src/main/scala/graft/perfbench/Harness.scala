package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.pg.server.PgWireServer

/** Where a run keeps its files: everything lives under `work` (inside the
  * benchmark's own directory), so a run reads and writes nothing else.
  */
final case class BenchEnv(work: Path, data: Path, cpus: Int, sf: Double) {
  def localDir: Path = work.resolve("spark-local")
}

/** One live engine: a SparkSession over the benchmark tables in a fresh
  * warehouse directory, and a PgWireServer bound to an ephemeral loopback
  * port.
  */
final class Stack(val spark: SparkSession, val server: PgWireServer, warehouse: Path)
    extends AutoCloseable {
  def port: Int = server.boundPort

  /** Stop the server and Spark, then drop the warehouse. Each step runs even
    * if an earlier one throws.
    */
  override def close(): Unit =
    try server.stop()
    finally
      try {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } finally Fs.deleteTree(warehouse)
}

object Harness {

  def session(env: BenchEnv, warehouse: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${env.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", env.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", env.localDir.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Catalog tables over the generated parquet. Catalog tables, not views,
    * as the server's per-connection sessions share the catalog.
    */
  def register(spark: SparkSession, data: Path): Unit = {
    DataGen.Tables.foreach(t =>
      spark.sql(s"CREATE TABLE $t USING parquet LOCATION '${data.resolve(t + ".parquet")}'"))
  }

  /** Build the whole stack and complete one client handshake; returns the
    * stack and the nanoseconds that took (the `setup_s` sample).
    */
  def setUp(env: BenchEnv): (Stack, Long) = {
    val t0 = System.nanoTime()
    val warehouse = Files.createTempDirectory(env.work, "warehouse-")
    val spark = session(env, warehouse)
    var server: PgWireServer = null
    try {
      register(spark, env.data)
      server = new PgWireServer(spark, port = 0)
      server.start()
      val c = new WireClient(server.boundPort)
      try {
        val r = c.connect()
        if (!r.ok) throw new IllegalStateException(s"handshake failed: ${r.error}")
      } finally c.close()
    } catch {
      case e: Throwable =>
        if (server != null) new Stack(spark, server, warehouse).close()
        else { spark.stop(); Fs.deleteTree(warehouse) }
        throw e
    }
    (new Stack(spark, server, warehouse), System.nanoTime() - t0)
  }
}
