package graft.streaming

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** State-store PROVIDER INDEPENDENCE: the transcript gates (q213–q218)
  * pin watermark/state semantics on the default HDFS-backed store; a
  * 100 TB streaming job runs the RocksDB provider (bounded executor
  * heap, spill-to-native). The semantics contract is that the provider
  * is a storage detail — identical micro-batch sequence in, identical
  * rows out. This spec replays ALL SEVEN transcript gates under BOTH
  * providers and asserts row-identical output, using the bundled
  * rocksdbjni — each exercises a distinct store access pattern:
  * windowed-aggregate eviction timers (q213), mapGroupsWithState
  * processing-time and event-time timeouts (q214/q215), the
  * stream-stream join's four stores per partition (q216),
  * dropDuplicates key-only state (q217), the never-expiring
  * flatMapGroupsWithState version store (q218, Update mode without a
  * watermark), and the politeness gate's monotone per-key timetable
  * state (q257, Append + NoTimeout against a broadcast dimension).
  */
class StateStoreProviderSpec extends AnyFunSuite with SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def rows(gate: String): Seq[String] = {
    val df = graft.SparkEntry.queries(gate)(spark, Sf)
    val out = df.collect().map(_.toString).sorted.toSeq
    graft.operators.CacheRegistry.releaseAll()
    out
  }

  private def underProvider(provider: Option[String])(gate: String): Seq[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    try rows(gate)
    finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  for (gate <- Seq(
    "q213_stream_windowed_counts",
    "q214_stream_sessionize_update",
    "q215_stream_sessionize_eventtime",
    "q216_stream_click_to_purchase",
    "q217_stream_dedup_events",
    "q218_stream_current_view",
    "q257_stream_politeness_gate")) {
    test(s"$gate: RocksDB state store emits rows identical to the default provider") {
      val dflt = underProvider(None)(gate)
      val rocks = underProvider(Some(RocksDb))(gate)
      assert(dflt.nonEmpty, "transcript produced no rows under the default provider")
      assert(rocks === dflt,
        s"provider-dependent output: default ${dflt.size} rows, rocksdb ${rocks.size}")
    }
  }
}
