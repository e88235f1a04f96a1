package perfbench

import graft.operators.IotPipeline
import org.apache.spark.sql.DataFrame

/** The paper's dataflow at volume, one repetition per operation:
  * readSensors -> splitCorrupt -> transform -> thresholdFilter ->
  * enrichLocation -> writeJsonl(enriched), then writeJsonl(dead letters). */
object IotEtl {
  def run(h: Harness): Unit = {
    val input = s"${h.cfg.data}/input"
    val inputBytes = new java.io.File(input).listFiles.map(_.length).sum
    val lines = h.cfg.params.get("generator").get("lines").asLong
    var dim: DataFrame = null

    h.setup { () =>
      val spark = h.newSession()
      dim = spark.read.parquet(s"${h.cfg.data}/dim.parquet")
      Map.empty
    }

    def rep(out: String)(st: OpStats): Unit = {
      val spark = h.spark
      val (enriched, bad) = h.step(st, "build") {
        val (good, bad) = IotPipeline.splitCorrupt(IotPipeline.readSensors(spark, input))
        (IotPipeline.enrichLocation(
          IotPipeline.thresholdFilter(IotPipeline.transform(good)), dim), bad)
      }
      h.step(st, "sink")(IotPipeline.writeJsonl(enriched, s"$out/enriched"))
      h.step(st, "dlq")(IotPipeline.writeJsonl(bad, s"$out/dead_letter"))
    }

    // Untimed check pass, also the first warm-up unit: its outputs are what
    // the checker reads, and the program's own record counts come from its
    // tasks.
    val check = h.countedOp("etl", "check")(rep(s"${h.cfg.work}/check"))
    h.info("check_dir") = s"${h.cfg.work}/check"
    h.info("program_counts") = Map(
      "lines_in" -> check.step("sink").scanRecords,
      "rows_out" -> check.step("sink").recordsWritten,
      "dlq_rows" -> check.step("dlq").recordsWritten)

    val out = s"${h.cfg.work}/out"
    h.warmup(() => h.op("etl", "warmup")(rep(out)).wallMs / 1e3, done = Seq(check.wallMs / 1e3))
    val reps = Seq.newBuilder[OpStats]
    h.timed()(_ => reps += h.op("etl", "repetition")(rep(out)))
    val ok = reps.result().filter(_.ok)

    val walls = ok.map(_.wallMs)
    h.put("etl_rows_per_s", lines / (Stats.median(walls) / 1e3), "1/s")
    h.latency(walls, None)
    h.put("throughput_per_s", h.metrics("etl_rows_per_s")._1, "1/s")

    if (h.tracer != null && ok.nonEmpty) {
      h.layerMetrics(ok, ok.take(1))
      def med(f: OpStats => Double) = Stats.median(ok.map(f))
      h.put("etl_build_ms", med(_.stepMs("build")), "ms")
      h.put("etl_sink_ms", med(_.stepMs("sink")), "ms")
      h.put("etl_dlq_ms", med(_.stepMs("dlq")), "ms")
      h.put("etl_commit_ms", med(o => Seq("sink", "dlq").map(s =>
        (o.stepEndMs(s) - o.step(s).lastTaskEndMs).toDouble).sum), "ms")
      h.put("scan_amplification", ok.head.inputBytes.toDouble / inputBytes, "ratio")
      h.put("lines_in", ok.head.step("sink").scanRecords.toDouble, "count")
      h.put("rows_out", ok.head.step("sink").recordsWritten.toDouble, "count")
      h.put("dlq_rows", ok.head.step("dlq").recordsWritten.toDouble, "count")
    }
  }
}
