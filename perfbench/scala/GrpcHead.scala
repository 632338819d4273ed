package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.pipeline.ChangePipeline
import graft.sink.{ClickHouseDialect, ClickHouseHttpServer, ClickHouseHttpSink, RowBinary}
import graft.sources.{ChainSource, GrpcChain, GrpcChainServer}
import graft.streaming.{GraftStream, StreamingFinality}

/** `grpc_head`: following the chain head over gRPC with TLS, 12 narrow rows
  * a trigger, reorgs every 10 messages and one connection kill per 150
  * messages of `[killFrom, killUntil)` at a seeded offset.
  *
  * A run makes three measured stand-ups (which also warm the JVM), then one
  * stream over a fixed number of triggers whose first `skip` are discarded.
  * The traced run then restarts the stream from its checkpoint for a second
  * timed pass under the job listener. A stream always drains to its end
  * bound before it stops, so no batch is cut off mid-insert. */
final class GrpcHead(spark: SparkSession, work: Path, seed: Long, killFrom: Long, killUntil: Long) {
  import GrpcHead._

  val catalog: Seq[ChTable] = Seq(ChTable("blocks", Seq(
    ChColumn("height", ChType.ChUInt64), ChColumn("fork", ChType.ChUInt32))))
  private val gen: Map[String, String] = Map("blocksPerTrigger" -> MsgsPerTrigger.toString,
    "finalityLag" -> "12", "reorgEvery" -> "10", "reorgDepth" -> "2", "numPartitions" -> "4",
    "maxRetries" -> "8", "totalBlocks" -> Long.MaxValue.toString, "startBlock" -> "0")
  private lazy val tls: Map[String, String] = Map("tls" -> "true",
    "tlsTrustCertPath" -> GrpcChain.serverCertPem.getAbsolutePath)

  val killSeqs: Set[Long] = {
    val r = new java.util.Random(seed)
    (killFrom until killUntil by 150L).map(b => b + r.nextInt(150)).filter(_ < killUntil).toSet
  }

  def cfg(extra: Map[String, String]): ChainSource.Config = {
    val m = new java.util.HashMap[String, String]()
    (gen ++ extra).foreach { case (k, v) => m.put(k, v) }
    ChainSource.config(new org.apache.spark.sql.util.CaseInsensitiveStringMap(m))
  }

  lazy val server = new GrpcChainServer(cfg(tls), failOnceAtSeqs = killSeqs)
  private val ch = new ClickHouseHttpServer()
  private val log = new ProgressLog(() => ch.rowCount("blocks").toLong)
  private val ckpt = work.resolve("ckpt").toString

  private def read(opts: Map[String, String], streaming: Boolean): Dataset[BlockMsg] = {
    implicit val enc = Encoders.product[BlockMsg]
    if (streaming) {
      var r = spark.readStream.format("graft.sources.ChainSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().as[BlockMsg]
    } else {
      var r = spark.read.format("graft.sources.ChainSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load().as[BlockMsg]
    }
  }

  /** Options of the stream over gRPC up to (excluding) message `end`. */
  def grpcOpts(port: Int, end: Long): Map[String, String] = gen ++ tls ++ Map(
    "fetcherClass" -> "graft.sources.GrpcBlockFetcher",
    "endpoint" -> s"127.0.0.1:$port", "endBlock" -> end.toString)

  private def start(port: Int, dir: String, to: ClickHouseHttpServer, triggers: Int): StreamingQuery =
    GraftStream.startClickHouse(read(grpcOpts(port, triggers.toLong * MsgsPerTrigger), streaming = true),
      catalog, to.url, dir, "grpc_head")

  /** The same message range from the in-process generator, so the parity
    * oracle's input never passes through the transport under test. */
  def batchRead(triggers: Int): Dataset[BlockMsg] =
    read(gen ++ Map("endBlock" -> (triggers.toLong * MsgsPerTrigger).toString), streaming = false)

  /** One fresh set-up: fixtures, query start and the first trigger. */
  private def standUp(dir: String): Unit = {
    val s = new GrpcChainServer(cfg(tls))
    val c = new ClickHouseHttpServer()
    try {
      val q = start(s.port, s"$dir/ckpt", c, 1)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    } finally { s.close(); c.close() }
  }

  /** Run the stream from its checkpoint up to `triggers` in total; returns
    * the `ran` triggers of this run and its start time. */
  private def drain(triggers: Int, ran: Int): (Seq[BatchRec], Long) = {
    val t0 = System.currentTimeMillis()
    val q = start(server.port, ckpt, ch, triggers)
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    (log.forRun(q.runId.toString, ran), t0)
  }

  /** Returns the number of triggers the stream ran in total. */
  def run(skip: Int, timed: Int, traced: Boolean, spans: Spans, jobTrace: JobTrace,
      raw: scala.collection.mutable.Map[String, Any]): Int = {
    raw("standup_s") = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      standUp(work.resolve(s"standup$i").toString)
      (System.nanoTime() - t0) / 1e9
    }
    spark.streams.addListener(log)
    Heap.reset()
    var end = skip + timed
    val (all, _) = drain(end, end)
    raw("peak_heap_bytes") = Heap.peak()
    raw("skipped") = all.take(skip).map(_.toMap)
    raw("batches") = all.drop(skip).map(_.toMap)

    if (traced) {
      jobTrace.enabled = true
      end += RestartSkip + timed
      val (all3, start3) = drain(end, RestartSkip + timed)
      jobTrace.enabled = false
      jobTrace.settle()
      raw("restart_ms") = all3.headOption.map(_.endMs - start3).getOrElse(-1L)
      val timed3 = all3.drop(RestartSkip)
      raw("traced_batches") = timed3.map(_.toMap)
      raw("traced_jobs") = timed3.map(b => Map("batch" -> b.id) ++ jobTrace.counters(Set(s"batch:${b.id}")))
      timed3.foreach(b => spans.addTrigger(b, jobTrace.jobsOf(s"batch:${b.id}")))
    }
    spark.streams.removeListener(log)
    raw("triggers") = end
    raw("all_triggers") = log.batches.size
    end
  }

  /** Write the landed table and the batch replay of the same range for the
    * checker, and record the cursors and the server's counters. Returns the
    * replay's rows in the landed column order. */
  def dumpChecks(triggers: Int, raw: scala.collection.mutable.Map[String, Any]): Seq[Array[String]] = {
    val end = triggers.toLong * MsgsPerTrigger
    val served = (0L until end).map(s => Option(server.served.get(s)).map(_.intValue).getOrElse(0))
    raw("kills") = killSeqs.toSeq.sorted.map(s => Map("seq" -> s, "served" -> served(s.toInt)))
    raw("seqs") = Map("count" -> end, "lost" -> served.count(_ == 0), "served_total" -> served.sum)
    raw("server") = Map("accepts" -> server.accepts.get(), "calls" -> server.calls.get())

    val dir = work.resolve("check")
    val replay = StreamingFinality.released(batchRead(triggers)).cache()
    val cols = landedColumns
    val expected = canonical(ChangePipeline.process(replay, catalog)("blocks"), cols)
    Out.writeTsv(dir.resolve("blocks.expected.tsv"), cols.map(_.name), expected.iterator.map(_.toSeq))
    Out.writeTsv(dir.resolve("blocks.landed.tsv"), cols.map(_.name), ch.select("blocks").iterator.map(_.toSeq))

    val sink = new ClickHouseHttpSink(catalog, ch.url, "grpc_head")
    raw("load_cursor_ms") = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); sink.loadCursor(spark); (System.nanoTime() - t0) / 1e6
    }.sorted.apply(2)
    val top = replay.toDF().select(col("clock.number").as("n"), col("cursor"))
      .orderBy(desc("n")).limit(1).collect().headOption
    raw("cursor") = Map(
      "landed" -> sink.loadCursor(spark).map(c => Map("block_num" -> c.blockNum, "cursor" -> c.cursor)).orNull,
      "expected" -> top.map(r => Map("block_num" -> r.getLong(0), "cursor" -> r.getString(1))).orNull)
    raw("fixture") = Map("insert_requests" -> ch.insertRequests.get(),
      "bad_requests" -> ch.badRequests.get(), "auth_failures" -> ch.authFailures.get())
    replay.unpersist()
    expected
  }

  def landedColumns: Seq[ChColumn] = ch.tables.get("blocks").columns

  /** The run's messages in seq order: the probes' input. */
  def messages(triggers: Int): Seq[BlockMsg] =
    batchRead(triggers).collect().sortBy(_.seq).toSeq

  def close(): Unit = { server.close(); ch.close() }
}

object GrpcHead {
  val MsgsPerTrigger = 12
  /** Triggers after a restart that still pay for it (state store load). */
  val RestartSkip = 2

  /** A typed frame as the canonical strings the ClickHouse fixture stores:
    * the sink's string rendering, then one RowBinary encode/decode per value
    * under the landed column type. */
  def canonical(df: DataFrame, cols: Seq[ChColumn]): Seq[Array[String]] =
    df.select(cols.map(c => col(c.name).cast("string")): _*).collect().toSeq.map { r =>
      cols.indices.map { i =>
        val v = if (r.isNullAt(i)) null else r.getString(i)
        val buf = new RowBinary.Buf(64)
        RowBinary.writeValue(buf, cols(i).chType, v)
        RowBinary.readValue(new RowBinary.Reader(buf.toBytes, 0), cols(i).chType)
      }.toArray
    }

  def ddl(t: ChTable): String = ClickHouseDialect().createTableSql(t.name,
    t.columns.map(c => c.name -> ClickHouseDialect.chName(c.chType)), Seq("block_num"))
}
