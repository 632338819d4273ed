package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum

import graft.Tables

/** One benchmark run in one JVM. Writes the raw measurements (`raw.json`),
  * the spans of a traced run (`spans.json`) and the checker's inputs under
  * the work directory; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <sfDir> <lanes,...>
  */
object Main {
  /** Triggers per second of `grpc_head` at the parent commit on a 4-core
    * box: `--seconds` sizes the fixed timed work with it. A p50 needs at
    * least 20 triggers. */
  val GrpcTriggersPerSecond = 1.2
  val GrpcMinTriggers = 20
  /** Triggers discarded at the start of the stream: each one is still
    * faster than the last for about the first ten after JVM start. */
  val GrpcSkip = 6
  /** Seconds one pass over the lane set takes at the parent commit;
    * `Lanes.WarmPasses` of the `--seconds` / this many noop passes are the
    * untimed warm-up. */
  val LanePassSeconds = 5.0

  def session(master: String, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, sfDir, lanesCsv) = args
    val (seed, seconds, traced, work) = (seedS.toLong, secondsS.toInt, traceS == "1", Paths.get(workS))
    val raw = mutable.LinkedHashMap.empty[String, Any]
    raw("workload") = workload
    raw("seed") = seed
    raw("traced") = traced

    val t0 = System.nanoTime()
    val spark = session("local[4]", work)
    spark.range(1).count()
    raw("session_build_s") = (System.nanoTime() - t0) / 1e9
    raw("box") = Map("jvm" -> System.getProperty("java.version"), "spark" -> spark.version,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> "local[4]",
      "calib_probe_s" -> calibProbe(spark, sfDir))

    val spans = new Spans
    val jobTrace = new JobTrace
    if (traced) spark.sparkContext.addSparkListener(jobTrace)
    val probes = new Probes(spark, spans)

    workload match {
      case "grpc_head" =>
        val skip = GrpcSkip
        val timed = math.max(GrpcMinTriggers, math.round(seconds * GrpcTriggersPerSecond).toInt)
        val until = skip + timed + (if (traced) GrpcHead.RestartSkip + timed else 0)
        val head = new GrpcHead(spark, work, seed, skip.toLong * GrpcHead.MsgsPerTrigger,
          until.toLong * GrpcHead.MsgsPerTrigger)
        try {
          val triggers = head.run(skip, timed, traced, spans, jobTrace, raw)
          val expected = head.dumpChecks(triggers, raw)
          if (traced) {
            probes.sources(head.cfg(Map.empty), skip.toLong * GrpcHead.MsgsPerTrigger,
              (skip + timed).toLong * GrpcHead.MsgsPerTrigger,
              head.grpcOpts(head.server.port, 0L) - "endBlock")
            probes.stateAndPipeline(head.messages(triggers), expected.size,
              math.max(1, expected.size / triggers), head.catalog)
            probes.sink("blocks", head.landedColumns, expected, head.catalog)
            raw("probes") = probes.out.toMap
          }
        } finally head.close()
        if (traced) raw("local1_batches") = localOne(spark, work, seed)

      case "lanes_hot" =>
        Lanes.run(spark, sfDir, lanesCsv.split(",").toSeq.filter(_.nonEmpty), seed,
          math.max(2, math.round(seconds / LanePassSeconds).toInt - Lanes.WarmPasses),
          work, traced, jobTrace, spans, raw)

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (traced) Out.write(work.resolve("spans.json"), Out.json(spans.all))
    Out.write(work.resolve("raw.json"), Out.json(raw))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** `graft.Bench`'s box probe: scan and sum lineitem's quantity column,
    * median of three after one untimed run. It moves with machine load. */
  def calibProbe(spark: SparkSession, sfDir: String): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      Tables.load(spark, sfDir, "lineitem").agg(sum("l_quantity")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }

  /** `grpc_head` at `local[1]`: a fresh single-threaded session, no kills,
    * 1 discarded trigger then 20 timed ones. */
  private def localOne(spark: SparkSession, work: Path, seed: Long): Seq[Map[String, Any]] = {
    spark.stop()
    val dir = work.resolve("local1")
    val s1 = session("local[1]", dir)
    val head = new GrpcHead(s1, dir, seed, 0L, 0L)
    val raw = mutable.LinkedHashMap.empty[String, Any]
    try head.run(1, GrpcMinTriggers, traced = false, new Spans, new JobTrace, raw) finally head.close()
    raw("batches").asInstanceOf[Seq[Map[String, Any]]]
  }
}
