package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Runs one workload and writes its record (metrics with units, operation
  * counts, check inputs) as JSON; `run.py` launches it and checks outputs.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --params workloads.json --data DIR --work DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mapper = new ObjectMapper()
    val all = mapper.readTree(new java.io.File(a("params")))
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("data"), a("work"), all.get("host"), all.get(a("workload")))
    val h = new Harness(cfg)
    try cfg.workload match {
      case "iot_etl" => IotEtl.run(h)
      case "query_mix" => QueryMix.run(h)
      case "stream_state" => StreamState.run(h)
    } finally h.stopSession()
    h.put("peak_rss_mb", h.peakRssMb(), "MB")

    val record = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "trace" -> cfg.trace,
      "attempted" -> h.attempted, "failed" -> h.failed, "errors" -> h.errors.toList,
      "metrics" -> h.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> h.info)
    mapper.writeValue(new java.io.File(a("out")), toJava(record))
    if (cfg.trace) {
      val w = new java.io.PrintWriter(a("out").stripSuffix(".json") + ".spans.jsonl")
      try h.spans.foreach(s => w.println(mapper.writeValueAsString(toJava(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))))
      finally w.close()
    }
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
