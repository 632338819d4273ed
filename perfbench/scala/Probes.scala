package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.model._
import graft.pipeline.ChangePipeline
import graft.sink.{ChNativeCodec, ClickHouseDialect, ClickHouseHttpServer, ClickHouseHttpSink, RowBinary}
import graft.sources.{ChainSource, EnvelopeWire}
import graft.state.FinalityBuffer

/** Layer probes for the traced run: each times one public function of the
  * program on the workload's own inputs, records every call as a span, and
  * checks its round trip first, so it never times a broken path. */
final class Probes(spark: SparkSession, spans: Spans) {
  private val Reps = 5
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"probe round trip failed: $what")

  /** Median wall ms of `Reps` calls of `f`, each its own span. */
  private def medianMs(name: String)(f: => Unit): Double = {
    val ms = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      spans.timed("probe", name)(f)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(Reps / 2)
  }

  /** `sources`: envelope decode and wire size over the timed seq range,
    * and a batch read of the same range over gRPC into the noop sink. */
  def sources(cfg: ChainSource.Config, from: Long, until: Long, readOpts: Map[String, String]): Unit = {
    val envs = (from until until).map(s => ChainSource.envelopeAt(s, cfg))
    val wire = envs.map(EnvelopeWire.encodeResponse)
    envs.zip(wire).foreach { case (e, b) =>
      val back = EnvelopeWire.decodeResponse(e.seq, b)
      val want = if (e.isUndo) e.copy(height = -1L, fork = -1L, finalHeight = -1L, tsMicros = -1L) else e
      check(back == EnvelopeWire.EnvelopeArm(want), s"EnvelopeWire seq ${e.seq}")
    }
    val n = envs.size.toDouble
    out("sources.decode_ns_per_msg") = medianMs("EnvelopeWire.decodeResponse") {
      var i = 0
      while (i < wire.size) { EnvelopeWire.decodeResponse(envs(i).seq, wire(i)); i += 1 }
    } * 1e6 / n
    out("sources.wire_bytes_per_msg") = wire.map(_.length + 5).sum / n
    out("sources.read_ms_per_kmsg") = medianMs("ChainSource.batchRead") {
      var r = spark.read.format("graft.sources.ChainSource")
      (readOpts ++ Map("startBlock" -> from.toString, "endBlock" -> until.toString))
        .foreach { case (k, v) => r = r.option(k, v) }
      r.load().write.mode("overwrite").format("noop").save()
    } / (n / 1000.0)
  }

  /** `state` and `pipeline`: the finality fold over the workload's
    * messages, and route + cast of one trigger's released blocks. */
  def stateAndPipeline(msgs: Seq[BlockMsg], replayReleased: Int, perTrigger: Int,
      catalog: Seq[ChTable]): Unit = {
    def fold(): Seq[BlockScoped] = {
      var st = FinalityBuffer.empty
      val out = Seq.newBuilder[BlockScoped]
      msgs.foreach { m => val (s2, rel) = FinalityBuffer.step(st, m); st = s2; out ++= rel }
      out.result()
    }
    val released = fold()
    check(released.size == replayReleased, "FinalityBuffer.step released count vs the replay")
    out("state.step_ns_per_msg") = medianMs("FinalityBuffer.step") { fold() } * 1e6 / msgs.size
    val mid = math.max(0, released.size / 2 - perTrigger / 2)
    val one = released.slice(mid, mid + perTrigger)
    val rows = one.map(_.changes.size).sum.toDouble
    val ds = spark.createDataset(one)(Encoders.product[BlockScoped]).cache()
    ds.count()
    out("pipeline.route_cast_ms_per_krow") = medianMs("ChangePipeline.process") {
      ChangePipeline.process(ds, catalog).values
        .foreach(_.write.mode("overwrite").format("noop").save())
    } / (rows / 1000.0)
    ds.unpersist()
  }

  /** `sink`: RowBinary encode, LZ4 framing, HTTP insert and cursor calls on
    * the table's expected rows. */
  def sink(table: String, cols: Seq[ChColumn], rows: Seq[Array[String]], catalog: Seq[ChTable]): Unit = {
    val t = ChTable(table, cols)
    val idx = cols.map(_.name).zipWithIndex.toMap
    def encodeAll(): Array[Byte] = {
      val buf = new ByteArrayOutputStream(rows.size * 64)
      rows.foreach(r => buf.write(RowBinary.encodeRow(t, n => r(idx(n)))))
      buf.toByteArray
    }
    val body = encodeAll()
    val sortedTypes = t.sortedColumns.map(_.chType)
    val back = RowBinary.decodeRows(sortedTypes, body)
    check(back.map(_.toSeq) == rows.map(r => t.sortedColumns.map(c => r(idx(c.name))).toSeq),
      "RowBinary.decodeRows after encodeRow")
    out("sink.encode_ns_per_row") = medianMs("RowBinary.encodeRow") { encodeAll() } * 1e6 / rows.size

    def frames(): Array[Byte] = {
      val bos = new ByteArrayOutputStream(body.length / 2)
      ChNativeCodec.writeFrames(bos, body)
      bos.toByteArray
    }
    val framed = frames()
    check(java.util.Arrays.equals(ChNativeCodec.readFrames(new ByteArrayInputStream(framed)), body),
      "ChNativeCodec.readFrames after writeFrames")
    out("sink.lz4_ns_per_kib") = medianMs("ChNativeCodec.compressFrame") { frames() } * 1e6 /
      (body.length / 1024.0)
    out("sink.compress_ratio") = body.length.toDouble / framed.length

    val ch = new ClickHouseHttpServer()
    try {
      val d = ClickHouseDialect()
      ClickHouseHttpSink.post(ch.url, GrpcHead.ddl(t), Array.emptyByteArray, "default", "", compress = false)
      val sql = s"INSERT INTO ${d.quote(table)} (" +
        t.sortedColumns.map(c => d.quote(c.name)).mkString(", ") + ") FORMAT RowBinary"
      out("sink.insert_ms_per_krow") = medianMs("ClickHouseHttpSink.postStream") {
        ClickHouseHttpSink.postStream(ch.url, sql, "default", "", compress = true)(_.write(body))
      } / (rows.size / 1000.0)
      check(ch.rowCount(table) == Reps * rows.size, "fixture row count after probe inserts")

      val s = new ClickHouseHttpSink(catalog, ch.url, "probe")
      s.loadCursor(spark)
      var n = 0L
      out("sink.cursor_ms") = medianMs("ClickHouseHttpSink.persistCursor") {
        n += 1; s.persistCursor(CursorRow("probe", s"c$n", n, s"b$n"))
      }
      check(s.loadCursor(spark).map(_.blockNum).contains(n), "cursor read back")
    } finally ch.close()
  }
}
