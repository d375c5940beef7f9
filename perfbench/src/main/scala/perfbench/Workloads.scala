package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.cdc.{ChangeFeed, ConsumerStateStore, SyncState}
import graft.sinks.DocumentSink

object Workloads {
  val all: Seq[Workload] = Seq(new PollDrain, new StreamCold, new BiAdhoc, new LlmCurate)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  def query(k: String): (SparkSession, String) => DataFrame = graft.SparkEntry.queries(k)

  /** Median of a traced-phase sample, 0 when the phase took none. */
  def tracedMedian(r: Run, name: String): Double = {
    val xs = r.get(name, "traced")
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** The metrics every workload reports under the same names: the median
    * latency of its client call and the work it completes per second. */
  def genericMetrics(r: Run, latMs: Seq[Double], workPerS: Double): Unit = {
    r.generic("p50_ms") = Stats.pct(latMs, 50)
    r.generic("work_per_s") = workPerS
    r.e2e("error_rate") = (r.failures.size.toDouble / r.attempted, "ratio")
  }

  /** Files and bytes the document sink holds, as (json files, bytes). */
  def sinkFiles(dir: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(dir)).filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    (files.size, files.map(_.length).sum)
  }

  /** The delivered documents, collapsed to one per (invoice, version),
    * for the Python-side comparison against DuckDB. */
  def dumpDocs(r: Run, sink: String, name: String): String = {
    val out = new File(r.work, s"check/$name").getPath
    DocumentSink.deduplicated(r.spark, sink)
      .select(col("invoice_id"), col("change_version"), col("invoice_number"), col("lines"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    out
  }
}

/** ConsumerStateStore with a span around each public call. */
final class TimedStore(spark: SparkSession, path: String, tr: Tracer)
    extends ConsumerStateStore(spark, path) {
  override def get(syncName: String): SyncState =
    tr.span("state.get", "state")(super.get(syncName))
  override def commit(syncName: String, version: Long, lastId: Long): Unit =
    tr.span("state.commit", "state")(super.commit(syncName, version, lastId))
  override def reset(syncName: String): Unit =
    tr.span("state.reset", "state")(super.reset(syncName))
}

/** ChangeFeed with a span around each feed-surface call; every override
  * calls super, so the poll protocol under test is the library's own. */
final class TimedFeed(spark: SparkSession, dir: String, store: ConsumerStateStore, tr: Tracer)
    extends ChangeFeed(spark, dir, store) {
  override protected def currentVersion: Long =
    tr.span("cdc.current_version", "cdc")(super.currentVersion)
  override protected def changedEntities(since: Long, to: Long): DataFrame =
    tr.span("cdc.changed_entities", "cdc")(super.changedEntities(since, to))
  override protected def rehydrate(keys: Seq[(Long, Long)]): DataFrame =
    tr.span("cdc.rehydrate", "cdc")(super.rehydrate(keys))
}

/** The reference's serving loop: one consumer polls pages of 1,000 changed
  * invoices, sinks each page and commits its cursor; at the end of the
  * feed it resets (the replay endpoint) and keeps polling. */
final class PollDrain extends Workload {
  val name = "poll_drain"
  override def minOps: Int = 10
  val Limit = 1000
  val Sync = "perfbench"
  private var store: ConsumerStateStore = _
  private var feed: ChangeFeed = _
  private var sink, errDir = ""
  private var cursor = (0L, 0L)
  private var forward = true
  private var polls = 0
  private var pages = 0
  private val ranges = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  private def deliver(r: Run, sinkDir: String, err: String) =
    feed.pollAndDeliverTimed(Sync, Limit) { df =>
      r.tracer.span("sinks.write", "sinks")(DocumentSink.writeVersioned(df, sinkDir, err))
    }

  def setUp(r: Run): Unit = {
    store = new TimedStore(r.spark, r.fresh("state"), r.tracer)
    feed = new TimedFeed(r.spark, r.data, store, r.tracer)
    // seeded start 1-3 full pages and a half page before the feed's end:
    // every run polls the tail, resets and polls from the head, and its
    // first ten polls always include exactly one half page
    val invoices = graft.Tables.orders(r.spark, r.data).count()
    val k = invoices - 1 - Limit * (1 + r.rng.nextInt(3)) - Limit / 2
    store.commit(Sync, 2 * k + 1, k)
    deliver(r, r.fresh("warm-sink"), r.fresh("warm-err"))
    store.commit(Sync, 2 * k + 1, k)
    cursor = (2 * k + 1, k)
    sink = r.fresh("sink")
    errDir = r.fresh("sink-err")
  }

  def op(r: Run): Unit = {
    polls += 1
    val before = cursor
    r.attempt(s"poll#$polls") {
      val t0 = System.nanoTime()
      val (page, tm) = r.tracer.span("cdc.poll", "cdc")(deliver(r, sink, errDir))
      val ms = (System.nanoTime() - t0) / 1e6
      if (page.count > 0) {
        val after = (page.lastVersion, page.lastId)
        if (!(after._1 > before._1 || (after._1 == before._1 && after._2 > before._2))) {
          forward = false
          System.err.println(s"PERFBENCH_CHECK_FAILED cursor moved back: $before -> $after")
        }
        ranges += ((before._1, before._2, after._1, after._2))
        cursor = after
        pages += 1
      }
      r.rec("lat_ms", ms)
      r.rec("docs", page.count.toDouble)
      r.rec("query_ms", tm.queryMs.toDouble)
      if (!page.hasMore) {
        feed.resetConsumer(Sync)
        cursor = (0L, 0L)
      }
    }.getOrElse {
      // a failed poll may or may not have committed: re-read the cursor
      val st = store.get(Sync)
      cursor = (st.lastSyncVersion, st.lastProcessedId)
    }
  }

  def finish(r: Run): Unit = {
    import Workloads._
    val lat = r.get("lat_ms")
    val docs = r.get("docs").sum
    val docsPerS = docs / (r.get("unit_ms").sum / 1e3)
    r.e2e("poll_p50_ms") = (Stats.pct(lat, 50), "ms")
    r.e2e("poll_p90_ms") = (Stats.pct(lat, 90), "ms")
    r.e2e("poll_docs_per_s") = (docsPerS, "1/s")
    r.e2e("polls") = (lat.size.toDouble, "count")
    genericMetrics(r, lat, docsPerS)
    if (r.traced) {
      r.layers("cdc.read_state_ms") = Stats.median(r.tracer.durationsMs("state.get"))
      r.layers("cdc.current_version_ms") = Stats.median(r.tracer.durationsMs("cdc.current_version"))
      r.layers("cdc.query_ms") = tracedMedian(r, "query_ms")
      r.layers("cdc.commit_ms") = Stats.median(r.tracer.durationsMs("state.commit"))
      r.layers("cdc.docs_per_page") = tracedMedian(r, "docs")
      r.layers("sinks.write_ms") = Stats.median(r.tracer.durationsMs("sinks.write"))
    }
    val (files, bytes) = sinkFiles(sink)
    val raw = DocumentSink.readBack(r.spark, sink).count()
    r.layers("sinks.files_per_page") = files.toDouble / math.max(pages, 1)
    r.layers("sinks.bytes_per_doc") = bytes.toDouble / math.max(raw, 1)
    r.check("cursor_forward", forward, "every committed cursor is after the one before")
    r.facts("poll_docs") = Json.str(dumpDocs(r, sink, "poll_docs"))
    r.facts("poll_ranges") = Json.arr(ranges.map { case (a, b, c, d) => Json.arr(Seq(a, b, c, d).map(_.toString)) })
  }
}

/** Delivery as a Structured Streaming query from an empty checkpoint; after
  * the measured deliveries, the streaming family's batch-form view keys,
  * once each, in seeded order. */
final class StreamCold extends Workload {
  val name = "stream_cold"
  override def minOps: Int = 3
  val PageVersions = 1000L
  val viewKeys = Seq("stream_sessionize", "stream_event_windows")
  override def oracleKeys: Seq[String] = viewKeys
  private var lastSink = ""
  private var deliveries = 0

  /** Start delivering the whole feed from an empty checkpoint into a fresh
    * sink; `onBatch` runs in each batch's onBatchDelivered callback. */
  private def start(r: Run, sink: String, onBatch: () => Unit) =
    graft.streaming.CdcPipeline.deliver(r.spark, r.data, sink,
      r.fresh("sink-err"), r.fresh("ckpt"), PageVersions, onBatchDelivered = _ => onBatch())

  private def deliver(r: Run, onBatch: () => Unit): String = {
    val sink = r.fresh("sink")
    val q = start(r, sink, onBatch)
    if (!q.awaitTermination(150000L)) {
      q.stop()
      throw new IllegalStateException("delivery did not drain within 150 s")
    }
    q.exception.foreach(e => throw e)
    sink
  }

  /** A new consumer's start-up: from an empty checkpoint to its first
    * delivered micro-batch, then stopped. */
  def setUp(r: Run): Unit = {
    val first = new java.util.concurrent.CountDownLatch(1)
    val q = start(r, r.fresh("setup-sink"), () => first.countDown())
    try {
      while (!first.await(100, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        q.exception.foreach(e => throw e)
        if (!q.isActive) throw new IllegalStateException("delivery ended before its first batch")
      }
    } finally q.stop()
  }

  /** One whole delivery, untimed: the JVM keeps warming up on this path
    * for about one delivery, so the measured ones start warm. */
  override def warmUp(r: Run): Unit = deliver(r, () => ())

  def op(r: Run): Unit = {
    deliveries += 1
    val gaps = mutable.ArrayBuffer.empty[Double]
    r.attempt(s"delivery#$deliveries") {
      val t0 = System.nanoTime()
      var last = t0
      val sink = r.tracer.span("streaming.deliver", "streaming") {
        deliver(r, () => {
          val now = System.nanoTime()
          if (last != t0) gaps += (now - last) / 1e6
          last = now
        })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val raw = DocumentSink.readBack(r.spark, sink).count()
      val dedup = DocumentSink.deduplicated(r.spark, sink).count()
      r.check(s"delivery#$deliveries.dedup_eq_raw", raw == dedup, s"raw=$raw dedup=$dedup")
      gaps.foreach(r.rec("lat_ms", _))
      r.rec("docs", raw.toDouble)
      r.rec("deliver_s", secs)
      r.rec("docs_per_s", raw / secs)
      r.rec("batches", gaps.size + 1.0)
      val (files, bytes) = Workloads.sinkFiles(sink)
      r.rec("files_per_batch", files / (gaps.size + 1.0))
      r.rec("bytes_per_doc", bytes.toDouble / math.max(raw, 1))
      lastSink = sink
    }
  }

  /** After the deliveries, each view key once, in seeded order. */
  private def runViews(r: Run): Double =
    r.rng.shuffle(viewKeys).flatMap { k =>
      r.attempt(k) {
        val t0 = System.nanoTime()
        r.noop(Workloads.query(k)(r.spark, r.data))
        val s = (System.nanoTime() - t0) / 1e9
        r.layers(s"streaming.${k}_s") = s
        s
      }
    }.sum

  def finish(r: Run): Unit = {
    import Workloads._
    val viewsS = runViews(r)
    val lat = r.get("lat_ms")
    // the median delivery: one delivery slowed by a noisy neighbour does
    // not move it
    val docsPerS = Stats.median(r.get("docs_per_s"))
    r.e2e("stream_docs_per_s") = (docsPerS, "1/s")
    r.e2e("stream_batch_p50_ms") = (Stats.pct(lat, 50), "ms")
    r.e2e("stream_batch_p90_ms") = (Stats.pct(lat, 90), "ms")
    r.e2e("stream_views_s") = (viewsS, "s")
    r.e2e("deliveries") = (r.get("deliver_s").size.toDouble, "count")
    genericMetrics(r, lat, docsPerS)
    r.layers("sinks.files_per_page") = Stats.median(r.get("files_per_batch", if (r.traced) "traced" else "plain"))
    r.layers("sinks.bytes_per_doc") = Stats.median(r.get("bytes_per_doc", if (r.traced) "traced" else "plain"))
    if (r.traced) {
      val ps = r.counters.progresses.filter(_.numInputRows > 0)
      def dur(k: String): Double =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
      r.layers("sources.rows_per_batch") = if (ps.isEmpty) 0.0 else Stats.median(ps.map(_.numInputRows.toDouble))
      r.layers("streaming.latest_offset_ms") = dur("latestOffset")
      r.layers("streaming.planning_ms") = dur("queryPlanning")
      r.layers("streaming.add_batch_ms") = dur("addBatch")
      r.layers("streaming.wal_commit_ms") = dur("walCommit")
      r.layers("streaming.commit_offsets_ms") = dur("commitOffsets")
      val states = ps.flatMap(_.stateOperators)
      r.layers("streaming.state_commit_ms") = states.map(_.commitTimeMs.toDouble).sum / math.max(ps.size, 1)
      r.layers("streaming.state_rows") = states.map(_.numRowsTotal.toDouble).sum / math.max(ps.size, 1)
      r.layers("streaming.state_partitions") = states.map(_.numStateStoreInstances.toDouble).sum / math.max(ps.size, 1)
    }
    r.facts("stream_docs") = Json.str(dumpDocs(r, lastSink, "stream_docs"))
    r.facts("page_versions") = PageVersions.toString
  }
}

/** One analyst refreshing a fixed dashboard: the eleven panels, each to the
  * noop sink, in a fresh seeded order per refresh. */
final class BiAdhoc extends Workload {
  val name = "bi_adhoc"
  // cdc_freshness is left out: on seeds whose invoice 0 has no line item
  // the library misses that invoice's version-0 change and fails the
  // oracle (perfbench/NOTES.md)
  val panels = Seq("view_adhoc_sql", "view_cached_sql", "sql_region_revenue",
    "sql_segment_topn", "join_view_flat", "join_nest_lines",
    "window_ntile", "window_percent_rank", "window_row_number", "agg_rollup", "agg_cube")
  override def oracleKeys: Seq[String] = panels

  /** Opening the dashboard: every panel's query built and planned
    * (analysis, optimization, physical planning), not run; building
    * view_cached_sql runs its query through the ResultCache. */
  def setUp(r: Run): Unit =
    panels.foreach(p => Workloads.query(p)(r.spark, r.data).queryExecution.executedPlan)

  /** The first refresh, untimed and cold: every panel computed once, its
    * result kept for the oracle check. */
  override def warmUp(r: Run): Unit =
    panels.foreach(p => Main.dump(Workloads.query(p)(r.spark, r.data), Main.oracleDump(r, p)))

  def op(r: Run): Unit = {
    var ok = true
    val t0 = System.nanoTime()
    r.rng.shuffle(panels).foreach { p =>
      r.attempt(p) {
        val q0 = System.nanoTime()
        r.tracer.span(s"ops.$p", "ops")(r.noop(Workloads.query(p)(r.spark, r.data)))
        val ms = (System.nanoTime() - q0) / 1e6
        r.rec("lat_ms", ms)
        r.rec(s"panel.$p", ms)
      }.getOrElse { ok = false }
    }
    if (ok) r.rec("refresh_s", (System.nanoTime() - t0) / 1e9)
  }

  def finish(r: Run): Unit = {
    import Workloads._
    val lat = r.get("lat_ms")
    val refresh = Stats.median(r.get("refresh_s"))
    r.e2e("bi_query_p50_ms") = (Stats.pct(lat, 50), "ms")
    r.e2e("bi_query_p90_ms") = (Stats.pct(lat, 90), "ms")
    r.e2e("bi_refresh_s") = (refresh, "s")
    r.e2e("refreshes") = (r.get("refresh_s").size.toDouble, "count")
    // the dashboard user's call is the whole refresh: panel latencies fall
    // into two clusters, and their median jumps between them
    genericMetrics(r, r.get("refresh_s").map(_ * 1e3), lat.size / (lat.sum / 1e3))
    if (r.traced) panels.foreach(p => r.layers(s"ops.${p}_ms") = tracedMedian(r, s"panel.$p"))
  }
}

/** A warm batch curation pass over the document corpus: twelve LLM-data
  * keys in a fresh seeded order per pass, serving artifacts built in
  * set-up. */
final class LlmCurate extends Workload {
  val name = "llm_curate"
  val keys = Seq("llm_decontaminate_ngram", "llm_diversity_ngram", "llm_boilerplate_ngrams",
    "llm_token_zipf", "llm_lm_score", "llm_ngram_novelty", "llm_dedup_near",
    "llm_dedup_incremental_near", "llm_decontaminate_bloom", "llm_fuzzy_pairs_varlen",
    "llm_simsearch_ivfpq", "llm_pipeline_e2e")
  override def oracleKeys: Seq[String] = keys
  // building every serving artifact takes 20-60 s: one set-up per run
  override def setUps: Int = 1

  def setUp(r: Run): Unit = {
    // a fresh artifact root per set-up: CorpusCache keys its index
    // layouts under java.io.tmpdir, so every set-up builds them anew
    System.setProperty("java.io.tmpdir", r.fresh("tmp"))
    graft.llm.LlmQueries.warmServingArtifacts(r.spark, r.data)
  }

  def op(r: Run): Unit = {
    var ok = true
    val t0 = System.nanoTime()
    r.rng.shuffle(keys).foreach { k =>
      r.attempt(k) {
        val before = if (r.tracer.enabled) { r.counters.drain(r.spark); r.counters.shuffleWrite.get } else 0L
        val q0 = System.nanoTime()
        r.tracer.span(s"llm.$k", "llm")(r.noop(Workloads.query(k)(r.spark, r.data)))
        val ms = (System.nanoTime() - q0) / 1e6
        r.rec("lat_ms", ms)
        r.rec(s"key.$k", ms)
        if (r.tracer.enabled) {
          r.counters.drain(r.spark)
          r.rec(s"shuffle.$k", (r.counters.shuffleWrite.get - before).toDouble)
        }
      }.getOrElse { ok = false }
    }
    if (ok) r.rec("pass_s", (System.nanoTime() - t0) / 1e9)
  }

  def finish(r: Run): Unit = {
    import Workloads._
    val lat = r.get("lat_ms")
    val pass = Stats.median(r.get("pass_s"))
    r.e2e("curate_pass_s") = (pass, "s")
    r.e2e("curate_key_p50_ms") = (Stats.pct(lat, 50), "ms")
    r.e2e("passes") = (r.get("pass_s").size.toDouble, "count")
    genericMetrics(r, lat, lat.size / (lat.sum / 1e3))
    if (r.traced) keys.foreach { k =>
      r.layers(s"llm.${k}_ms") = tracedMedian(r, s"key.$k")
      r.layers(s"llm.${k}_shuffle_bytes") = tracedMedian(r, s"shuffle.$k")
    }
  }
}
