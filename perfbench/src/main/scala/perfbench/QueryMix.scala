package perfbench

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.perfbench.Substrates
import org.apache.spark.sql.DataFrame

/** A fixed stratified sample of the query catalog, run by one closed-loop
  * client in a seed-shuffled order. Each query is one operation: the
  * builder call `fn(spark, dir)`, then a `noop` write, cache cleared first
  * (as `graft.Bench` does). Set-up is a session plus the substrate memos the
  * sample reads. */
object QueryMix {
  def run(h: Harness): Unit = {
    val dir = h.cfg.data
    def strings(node: com.fasterxml.jackson.databind.JsonNode) =
      node.elements.asScala.map(_.asText).toList
    val names = strings(h.cfg.params.get("sample").get("queries"))
    val order = new scala.util.Random(h.cfg.seed).shuffle(names).toIndexedSeq
    val catalog = SparkEntry.queries
    require(names.forall(catalog.contains),
      s"sampled queries missing from the catalog: ${names.filterNot(catalog.contains)}")
    h.info("order") = order
    val setupSubstrates = strings(h.cfg.params.get("setup_substrates")).toSet

    def buildSubstrates(which: String => Boolean): Map[String, Double] =
      Substrates.all.filter(s => which(s._1)).map { case (name, build) =>
        val t0 = System.nanoTime()
        build(h.spark, dir)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    val setup = h.setup { () => h.newSession(); buildSubstrates(setupSubstrates) }

    def query(name: String, label: String)(sink: DataFrame => Unit): OpStats = {
      h.spark.sharedState.cacheManager.clearCache()
      h.op("query", name) { st =>
        val df = h.step(st, "build")(catalog(name)(h.spark, dir))
        h.step(st, label)(sink(df))
      }
    }
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

    // Untimed check pass, also the first warm-up unit: each result lands as
    // one parquet file, as the correctness gate dumps it, next to the oracle
    // SQL of the sample.
    val check = s"${h.cfg.work}/check"
    val checkPass = order.map(name => query(name, "check")(
      _.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")))
    h.info("check_dir") = check
    h.info("oracles") = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    h.warmup(() => order.map(query(_, "action")(noop).wallMs).sum / 1e3,
      done = Seq(checkPass.map(_.wallMs).sum / 1e3))
    // Whole passes only, so every run times the same queries equally often.
    val passes = Seq.newBuilder[Seq[OpStats]]
    h.timed()(_ => passes += order.map(query(_, "action")(noop)))
    val timedPasses = passes.result()
    val ok = timedPasses.flatten.filter(_.ok)

    // A query's warm time is its fastest timed run, as `graft.Bench` takes
    // the min of its runs: the least disturbed run on a shared host.
    val warm = ok.groupBy(_.name).values.map(_.map(_.wallMs).min)
    val mixWall = warm.sum / 1e3
    h.put("mix_wall_s", mixWall, "s")
    h.put("throughput_per_s", warm.size / mixWall, "1/s")
    h.latency(ok.map(_.wallMs), Some(("query", "s", 1e3)))

    if (h.tracer != null) {
      h.layerMetrics(ok, timedPasses.head.filter(_.ok))
      // Substrates the sample does not read are built once, on a fresh
      // session so no memo is warm, for their per-layer times.
      val spark = h.spark
      h.spark = spark.newSession()
      val others = buildSubstrates(n => !setupSubstrates(n))
      h.spark = spark
      (setup ++ others).foreach { case (k, v) => if (k.startsWith("substrate_")) h.put(k, v, "s") }
    }
  }
}
