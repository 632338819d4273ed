package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `lanes_hot`: passes over a fixed lane set run the way `graft.Bench` runs
  * them (noop sink). Untimed passes come first: one writes each lane's
  * output as parquet for the DuckDB oracle check, then `WarmPasses` noop
  * passes. */
object Lanes {
  val WarmPasses = 2

  def run(spark: SparkSession, sfDir: String, lanes: Seq[String], seed: Long, passes: Int,
      work: Path, traced: Boolean, jobTrace: JobTrace, spans: Spans,
      raw: scala.collection.mutable.Map[String, Any]): Unit = {
    val fns = SparkEntry.queries
    val missing = lanes.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown lanes: ${missing.mkString(", ")}")
    var failed = 0

    raw("standup_s") = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.names.foreach(t => Tables.load(spark, sfDir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }

    val w0 = System.nanoTime()
    lanes.foreach { n =>
      try fns(n)(spark, sfDir).write.mode("overwrite").parquet(work.resolve(s"lanes/$n").toString)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"lane $n failed in the output pass: $e")
      }
    }

    def lane(n: String): Double = {
      val t0 = System.nanoTime()
      try fns(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"lane $n failed: $e")
      }
      (System.nanoTime() - t0) / 1e9
    }

    // each pass runs the set in a seeded order, so no lane always runs
    // right after the same neighbour; the first noop passes are still
    // slower than the later ones, so they are not timed
    val rnd = new scala.util.Random(seed)
    (0 until WarmPasses).foreach(_ => rnd.shuffle(lanes).foreach(lane))
    raw("warmup_s") = (System.nanoTime() - w0) / 1e9
    Heap.reset()
    raw("passes") = (0 until passes).map { _ =>
      val order = rnd.shuffle(lanes)
      val t0 = System.nanoTime()
      val times = order.map(n => n -> lane(n)).toMap
      Map("pass_s" -> (System.nanoTime() - t0) / 1e9, "lanes" -> times)
    }
    raw("peak_heap_bytes") = Heap.peak()

    if (traced) {
      jobTrace.enabled = true
      val passStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val times = rnd.shuffle(lanes).map { n =>
        spark.sparkContext.setLocalProperty(JobTrace.UnitKey, s"lane:$n")
        val s0 = System.currentTimeMillis()
        val s = lane(n)
        n -> (s0, s)
      }
      spark.sparkContext.setLocalProperty(JobTrace.UnitKey, null)
      val passS = (System.nanoTime() - t0) / 1e9
      jobTrace.enabled = false
      jobTrace.settle()
      val root = spans.add("pass", "pass", 0L, passStart.toDouble, passStart + passS * 1000)
      times.foreach { case (n, (s0, s)) =>
        val id = spans.add("pass", "lane", root, s0.toDouble, s0 + s * 1000)
        jobTrace.jobsOf(s"lane:$n").foreach(j => spans.add("pass", "job", id, j.start.toDouble, j.end.toDouble))
      }
      raw("traced_pass") = Map("pass_s" -> passS, "lanes" -> times.map { case (n, (_, s)) => n -> s }.toMap)
      raw("traced_lane_counters") = lanes.map(n => n -> jobTrace.counters(Set(s"lane:$n"))).toMap
    }
    raw("lane_failures") = failed
    raw("oracle_sql") = lanes.map(n => n -> SparkEntry.oracleSql.get(n).orNull).toMap
  }
}
