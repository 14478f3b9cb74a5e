package graft

import graft.queries.{Registry, TextOps}
import graft.util.{Memo, Tables}

/** Streaming builds run in child sessions: while stream keys build on
  * one thread, the caller's session conf must never change, and a batch
  * memo built on another thread meanwhile must keep the caller's shuffle
  * width (TextOps.docToks reads it at build time). */
class StreamSessionIsolationSpec extends SparkSpec {

  test("concurrent stream builds never write the caller's conf; docToks keeps the caller's width") {
    val widthKey = "spark.sql.shuffle.partitions"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevWidth = spark.conf.get(widthKey)
    // 3 is a width the stream builds never pick (their floor is 4)
    spark.conf.set(widthKey, "3")
    val prov = spark.conf.getOption(provKey)
    val docToksKey = s"$sf0001:doctoks:${Tables.tableKey(sf0001, "documents")}"
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var buildError: Option[Throwable] = None
    val builder = new Thread(() =>
      try (1 to 5).foreach { _ =>
        Registry.byName("stream_file_sink_parity").build(spark, sf0001).count()
        Registry.byName("stream_tws_parity").build(spark, sf0001).count()
        Memo.clear(spark)
      } catch { case e: Throwable => buildError = Some(e) }
      finally done.set(true))
    val widths = scala.collection.mutable.Set.empty[String]
    val provs = scala.collection.mutable.Set.empty[Option[String]]
    val docWidths = scala.collection.mutable.Set.empty[Int]
    var polls = 0
    try {
      builder.start()
      while (!done.get()) {
        widths += spark.conf.get(widthKey)
        provs += spark.conf.getOption(provKey)
        Memo.evict(spark, docToksKey)
        docWidths += TextOps.docToks(spark, sf0001).rdd.getNumPartitions
        polls += 1
      }
      builder.join()
    } finally {
      spark.conf.set(widthKey, prevWidth)
      Memo.clear(spark)
    }
    assert(buildError.isEmpty, s"stream build failed: ${buildError.orNull}")
    assert(polls >= 5, s"only $polls polls overlapped the stream builds")
    assert(widths == Set("3"), s"caller's shuffle width changed: $widths")
    assert(provs == Set(prov), s"caller's state-store provider changed: $provs")
    assert(docWidths == Set(3), s"docToks built at widths $docWidths, not 3")
  }
}
