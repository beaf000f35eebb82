package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Streaming throughput micro-bench for the transformWithState operators
  * (round-6 verdict item #8): the rate limiter, session closer, funnel,
  * and CDC materializer are correctness-proven in StreamingSpec but were
  * never MEASURED. This feeds each one a synthetic keyed stream from a
  * MemoryStream (the spec's harness), drives it batch by batch with
  * processAllAvailable, and reports end-to-end events/sec plus the state
  * the operator retained (rows and bytes from the engine's own
  * stateOperators progress metrics — the "state size per key" answer).
  *
  * Event shape: nEvents events over nKeys keys, delivered in nBatches
  * equal MemoryStream batches — keys interleave round-robin so every
  * batch touches every key (the worst case for state-store churn; a
  * key-sorted feed would understate lookups). Throughput counts the
  * full pipeline: planning, state reads/writes, and the memory sink.
  *
  * Output: one JSON line on stdout, and also written to the file named by
  * the optional first argument (`runMain graft.tools.StreamBench out.json`):
  * {"metric":"stream","events":N,"keys":K,"batches":B,
  *  "ops":{name:{"sec":…,"events_per_sec":…,"out_rows":…,
  *               "state_rows":…,"state_bytes":…}}} */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "1000000").toInt
    val nKeys = sys.env.getOrElse("SPARK_GRAFT_STREAM_KEYS", "1000").toInt
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val spark = graft.Cli.session()
    // transformWithState requires the RocksDB state store (the
    // StreamingSpec harness config)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def fmt(v: Double): String = BigDecimal(v)
      .setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

    // Drive a started query over pre-chunked batches; return (sec, rows,
    // stateRows, stateBytes). State metrics come from the LAST progress
    // that carries a state operator (the engine's own accounting).
    def drive[T](q: StreamingQuery, feed: Int => Unit, sink: String)
        : (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      (0 until nBatches).foreach { b => feed(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = spark.table(sink).count()
      val prog = q.recentProgress.reverse
        .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
      val (srows, sbytes) = prog.map { p =>
        (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }.getOrElse((-1L, -1L))
      q.stop()
      (sec, rows, srows, sbytes)
    }

    val perBatch = nEvents / nBatches
    def keyOf(i: Int): Long = (i % nKeys).toLong

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long, Long, Long)]

    // 1) rate limiter: (userId, eventId)
    locally {
      val in = MemoryStream[(Long, Long)]
      val q = graft.streaming.Streaming.rateLimitPerUser(in.toDS(), limit = 50)
        .writeStream.format("memory").queryName("sb_rate")
        .outputMode(OutputMode.Update()).start()
      val r = drive(q, b => in.addData(
        (b * perBatch until (b + 1) * perBatch).map(i => (keyOf(i), i.toLong))),
        "sb_rate")
      results += (("rate_limit", r._1, r._2, r._3, r._4))
    }

    // 2) session closer: (userId, eventTimeMicros) — per-key event times
    //    advance 1s per event with an hourly jump every 20 key-events, so
    //    sessions actually CLOSE (out_rows must be nonzero or the bench
    //    measured an idle operator) and the watermark advances each batch
    locally {
      val in = MemoryStream[(Long, Long)]
      val q = graft.streaming.Streaming.sessionCloserTws(in.toDS(), gapMinutes = 30)
        .writeStream.format("memory").queryName("sb_sess")
        .outputMode(OutputMode.Append()).start()
      val r = drive(q, b => in.addData(
        (b * perBatch until (b + 1) * perBatch).map { i =>
          val seq = i / nKeys // per-key sequence number
          val us = (seq.toLong * 1000000L) +
            (seq / 20).toLong * 3600L * 1000000L // hourly jumps split sessions
          (keyOf(i), us)
        }), "sb_sess")
      require(r._2 > 0, "session bench closed zero sessions — idle measure")
      results += (("session_closer", r._1, r._2, r._3, r._4))
    }

    // 3) funnel: (userId, stage, tsUs) — stages cycle so most keys complete
    locally {
      val stages = Seq("signup", "click", "purchase")
      val in = MemoryStream[(Long, String, Long)]
      val q = graft.streaming.Streaming.funnelProgressTws(in.toDS(), stages)
        .writeStream.format("memory").queryName("sb_funnel")
        .outputMode(OutputMode.Update()).start()
      val r = drive(q, b => in.addData(
        (b * perBatch until (b + 1) * perBatch).map { i =>
          (keyOf(i), stages((i / nKeys) % stages.size), i.toLong)
        }), "sb_funnel")
      results += (("funnel", r._1, r._2, r._3, r._4))
    }

    // 3b) funnel at 4x the keys, same event count: makes the state
    //     growth law visible in the artifact — the ListState buffer is
    //     sized by BUFFERED EVENTS (here: all events, the worst case),
    //     not by user count, so state_bytes stays ~flat while state_rows
    //     (per-(user,stage) reach entries + per-user lists) scales with
    //     keys. Eviction dial: funnelProgressTws(bufferTtl) bounds the
    //     buffer by a processing-time lateness horizon (BASELINE.md r8).
    locally {
      val stages = Seq("signup", "click", "purchase")
      val in = MemoryStream[(Long, String, Long)]
      val q = graft.streaming.Streaming.funnelProgressTws(in.toDS(), stages)
        .writeStream.format("memory").queryName("sb_funnel4")
        .outputMode(OutputMode.Update()).start()
      val keys4 = nKeys * 4
      val r = drive(q, b => in.addData(
        (b * perBatch until (b + 1) * perBatch).map { i =>
          ((i % keys4).toLong, stages((i / keys4) % stages.size), i.toLong)
        }), "sb_funnel4")
      results += (("funnel_4x_keys", r._1, r._2, r._3, r._4))
    }

    // 4) CDC materializer: (key, tsUs, eventId, type, value) with a
    //    tombstone every 97th change — latest-wins state per key
    locally {
      val in = MemoryStream[(Long, Long, Long, String, Double)]
      val q = graft.streaming.Streaming.cdcMaterializerTws(in.toDS(), "error")
        .writeStream.format("memory").queryName("sb_cdc")
        .outputMode(OutputMode.Update()).start()
      val r = drive(q, b => in.addData(
        (b * perBatch until (b + 1) * perBatch).map { i =>
          val tpe = if (i % 97 == 0) "error" else "update"
          (keyOf(i), i.toLong, i.toLong, tpe, i.toDouble / 100.0)
        }), "sb_cdc")
      results += (("cdc_materializer", r._1, r._2, r._3, r._4))
    }

    val opsJson = results.map { case (n, sec, rows, srows, sbytes) =>
      s""""$n":{"sec":${fmt(sec)},"events_per_sec":${fmt(nEvents / sec)},""" +
        s""""out_rows":$rows,"state_rows":$srows,"state_bytes":$sbytes}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream","events":$nEvents,"keys":$nKeys,""" +
      s""""batches":$nBatches,"ops":$opsJson}"""
    println(line)
    args.headOption.foreach(out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n"))
    spark.stop()
  }
}
