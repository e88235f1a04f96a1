package perfbench

import graft.OracleParity.{dsum, fmtTs, micros}
import graft.SparkEntry
import graft.streaming.{Streams, UserEvent}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Event-time-ordered feeds of the events table through the three state
  * shapes `graft.StreamBench` builds, on RocksDB with changelog
  * checkpointing. A round feeds the same slice to each stream in turn; each
  * feed (addData until the query is idle again) is one operation. Each sink is
  * named after the catalog entry whose oracle it must match. */
object StreamState {
  private val Rocks = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  private final case class Stream(name: String, in: MemoryStream[UserEvent], q: StreamingQuery)

  private def start(spark: SparkSession, ckpt: String): Seq[Stream] = {
    import spark.implicits._
    def stream(name: String, id: Int, mode: String)(mk: Dataset[UserEvent] => DataFrame) = {
      val in = MemoryStream[UserEvent](spark, id)
      val q = mk(in.toDS()).writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$name").start()
      Stream(name, in, q)
    }
    Seq(
      stream("stream_tumbling_agg", 101, "update") { ds =>
        ds.toDF().withWatermark("ts", "10 minutes")
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
          .select(fmtTs($"window.start").as("hour_start"), $"event_type", $"n", $"sum_value")
      },
      stream("stream_tws_anomaly", 102, "append") { ds =>
        Streams.anomalyTws(ds).toDF()
          .select($"event_type", $"event_id", $"ts_us", $"value", $"zscore")
      },
      stream("stream_stream_join", 103, "append") { ds =>
        val purchases = ds.toDF().filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"ts".as("p_ts"), $"user_id".as("p_user"))
          .withWatermark("p_ts", "10 minutes")
        val clicks = ds.toDF().filter($"event_type" === "click")
          .select($"event_id".as("click_id"), $"ts".as("c_ts"), $"user_id".as("c_user"))
          .withWatermark("c_ts", "1 hour")
        purchases.join(clicks, $"p_user" === $"c_user" &&
            $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES") && $"c_ts" <= $"p_ts")
          .select($"purchase_id", $"click_id", $"p_user".as("user_id"),
            micros($"p_ts").as("p_ts_us"), micros($"c_ts").as("c_ts_us"))
      })
  }

  /** Wait until the query has processed everything and found nothing more
    * to run: the data batch, and the no-data batch a watermark advance
    * triggers after it, which would otherwise overlap the next feed. */
  private def drain(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q.status.isTriggerActive || q.status.message != "Waiting for data to arrive") {
      require(System.nanoTime() < deadline, s"${q.name} did not go idle")
      Thread.sleep(1)
    }
  }

  def run(h: Harness): Unit = {
    val feedRows = h.cfg.params.get("feed_rows").asInt
    val maxRounds = h.cfg.params.get("max_rounds").asInt
    var streams = Seq.empty[Stream]
    var setupRun = 0
    h.setup(
      () => {
        setupRun += 1
        val spark = h.newSession(Rocks)
        streams = start(spark, s"${h.cfg.work}/checkpoints/$setupRun")
        Map.empty
      },
      teardown = () => streams.foreach(_.q.stop()))

    val spark = h.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, h.cfg.data)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[UserEvent].orderBy($"ts", $"event_id").collect()
    val offset = new scala.util.Random(h.cfg.seed).nextInt(events.length - maxRounds * feedRows + 1)
    var round = 0
    def feedRound(): Seq[OpStats] = {
      val slice = events.slice(offset + round * feedRows, offset + (round + 1) * feedRows).toSeq
      round += 1
      streams.map { s =>
        h.op("feed", s.name) { st =>
          if (h.tracer != null) h.tracer.own(s.q.id.toString, st)
          s.in.addData(slice)
          drain(s.q)
        }
      }
    }

    h.warmup(() => feedRound().map(_.wallMs).sum / 1e3)
    val rounds = Seq.newBuilder[Seq[OpStats]]
    h.timed(maxRounds - round)(_ => rounds += feedRound())
    val timedRounds = rounds.result()
    val feeds = timedRounds.flatten.filter(_.ok)

    // Untimed check: each sink's final state, as the gate entry would emit it.
    val check = s"${h.cfg.work}/check"
    h.op("check", "sinks") { _ =>
      def dump(name: String, df: DataFrame): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
      dump("stream_tumbling_agg", spark.table("stream_tumbling_agg")
        .groupBy($"hour_start", $"event_type").agg(max(struct($"n", $"sum_value")).as("m"))
        .select($"hour_start", $"event_type", $"m.n".as("n"), $"m.sum_value".as("sum_value"))
        .orderBy($"hour_start", $"event_type"))
      dump("stream_tws_anomaly",
        spark.table("stream_tws_anomaly").orderBy($"event_type", $"event_id"))
      dump("stream_stream_join",
        spark.table("stream_stream_join").orderBy($"purchase_id", $"click_id"))
    }
    streams.foreach(_.q.stop())
    h.info("check_dir") = check
    h.info("oracles") = SparkEntry.oracleSql.filter { case (k, _) => streams.exists(_.name == k) }
    h.info("fed_event_ids") = Seq(events(offset).event_id, events(offset + round * feedRows - 1).event_id)
    h.info("rounds_fed") = round

    val walls = feeds.map(_.wallMs)
    h.put("stream_rows_per_s", feedRows * feeds.size / (walls.sum / 1e3), "1/s")
    h.put("throughput_per_s", h.metrics("stream_rows_per_s")._1, "1/s")
    h.latency(walls, Some(("feed", "ms", 1.0)))

    if (h.tracer != null && feeds.nonEmpty) {
      // Deterministic counters come from a fixed prefix of the timed rounds,
      // so they do not depend on how many rounds fit into the run.
      val prefix = timedRounds.take(h.cfg.params.get("min_timed_units").asInt)
      val counted = prefix.flatten.filter(_.ok)
      h.layerMetrics(feeds, counted)
      def mean(xs: Seq[Double]) = xs.sum / xs.size
      for (p <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "triggerExecution"))
        h.put(s"${p}_ms", mean(feeds.map(_.phaseMs(p))), "ms")
      h.info("rocksdb_commit_ms_per_feed") = feeds.flatMap(_.phaseMs.keys).distinct
        .filter(_.startsWith("rocksdbCommit")).map(k => k -> mean(feeds.map(_.phaseMs(k)))).toMap
      h.put("triggers_per_feed", mean(counted.map(_.triggers.toDouble)), "count")
      h.put("feed_gap_ms", mean(feeds.map(f => f.wallMs - f.phaseMs("triggerExecution"))), "ms")
      val lastState = streams.flatMap(s =>
        counted.filter(_.name == s.name).flatMap(_.state.get(s.name)).lastOption)
      h.put("state_rows_total", lastState.map(_._1.toDouble).sum, "count")
      h.put("state_memory_bytes", lastState.map(_._2.toDouble).sum, "bytes")
      h.put("rocksdb_sst_bytes", lastState.map(_._3.toDouble).sum, "bytes")
      h.put("state_rows_updated", mean(counted.map(_.stateUpdated.toDouble)), "count")
      h.put("state_rows_removed", mean(counted.map(_.stateRemoved.toDouble)), "count")
      h.put("state_commit_ms", mean(feeds.map(_.stateCommitMs)), "ms")
    }
  }
}
