package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** sf10 scale rung for the STATEFUL streaming family — the watermark-state
  * gates (`ev_stream_neardup`, `ev_stream_neardup_unique`,
  * `ev_stream_join`, `ev_stream_dedup`) driven at a given fixture scale on
  * a chosen state-store provider, recording wall time AND the state-store
  * occupancy the SURVEY claim "state sized by the window, never the
  * corpus" needs a number for.
  *
  *   runMain graft.tools.StreamScale [sfDir] [provider] [gate ...]
  *
  * provider: `rocksdb` (default — the 100 TB deployment shape) or
  * `default` (HDFSBackedStateStoreProvider). State metrics come from a
  * [[StreamingQueryListener]] snapshot of each query's LAST progress:
  * per-operator `numRowsTotal`, `memoryUsedBytes` (in-memory provider),
  * and the RocksDB SST footprint (`rocksdbSstFileSize`). Output: one JSON
  * line per gate.
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf10docs")
    val provider = args.lift(1).getOrElse("rocksdb")
    // a typo'd provider must not silently run on the default store while
    // every output line labels it with the typo — these numbers exist to
    // be quoted
    require(provider == "rocksdb" || provider == "default",
      s"provider must be 'rocksdb' or 'default', got '$provider'")
    val only = args.drop(2).toSet
    val spark = graft.LocalSession((if (provider == "rocksdb") Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil): _*)

    // last progress per query id — stateful gates may run chained queries,
    // so a gate's state report is the union over the queries it started
    val lastState =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops != null && ops.nonEmpty) {
          val s = ops.map { o =>
            val sst = Option(o.customMetrics)
              .map(m => m.getOrDefault("rocksdbSstFileSize", 0L).longValue())
              .getOrElse(0L)
            s"""{"op":"${o.operatorName}","stateRows":${o.numRowsTotal},""" +
              s""""memBytes":${o.memoryUsedBytes},"sstBytes":$sst}"""
          }.mkString(",")
          lastState.put(e.progress.id, s)
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val ev = graft.streaming.EventStream
    val gates: Seq[(String, () => Long)] = Seq(
      "ev_stream_neardup" ->
        (() => ev.runNearDedupStream(spark, dir).count()),
      "ev_stream_neardup_unique" ->
        (() => ev.runNearDedupUniqueStream(spark, dir).count()),
      "ev_stream_join" ->
        (() => ev.runStreamStreamJoin(spark, dir).count()),
      "ev_stream_dedup" ->
        (() => ev.runDedupStream(spark, dir,
          Seq("user_id", "event_type"), "30 days").count()))

    gates.filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, run) =>
        lastState.clear()
        val t0 = System.nanoTime()
        val rows = run()
        val sec = (System.nanoTime() - t0) / 1e9
        // the listener bus is ASYNC: the final progress event can still
        // be in flight when the drain returns, and a late event from
        // this gate must not land after the NEXT gate's clear() and get
        // misattributed. There is no public drain API for the streaming
        // listener bus, so give it a generous settle window before
        // reading — seconds of slack on a minutes-scale measurement.
        Thread.sleep(3000)
        val state = {
          import scala.jdk.CollectionConverters._
          lastState.values.asScala.mkString("[", ",", "]")
        }
        println(f"""{"gate":"$name","provider":"$provider","sf":"$dir","sec":$sec%.1f,"outRows":$rows,"state":$state}""")
      }
    spark.stop()
  }
}
