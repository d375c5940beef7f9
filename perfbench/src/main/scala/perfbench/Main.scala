package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** State of one benchmark run: the session, the run's own directories,
  * the seeded generator, samples per measurement phase, failures and
  * check outcomes. */
final class Run(val spark: SparkSession, val data: String, val work: File,
                val seed: Long, val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer
  val counters = new EngineCounters
  val rng = new scala.util.Random(seed)
  /** "plain" while tracing is off, "traced" while it is on. */
  var phase = "plain"
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Workload-named end-to-end metrics: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** The end-to-end metrics every workload reports under the same names. */
  val generic = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Extra facts for the Python-side output checks. */
  val facts = mutable.LinkedHashMap.empty[String, String]
  private val samples = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
  private var dirs = 0

  def fresh(name: String): String = {
    dirs += 1
    val d = new File(work, s"scratch/$name-$dirs")
    d.mkdirs()
    d.getAbsolutePath
  }

  def rec(name: String, v: Double): Unit =
    samples.getOrElseUpdate((phase, name), mutable.ArrayBuffer.empty) += v
  def get(name: String, ph: String = "plain"): Seq[Double] =
    samples.get((ph, name)).map(_.toSeq).getOrElse(Nil)

  /** One closed-loop call: counted as attempted; a failure is listed by
    * name and never reaches a latency sample. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        failures += s"$name: ${e.getClass.getSimpleName}: ${msg.take(200)}"
        System.err.println(s"PERFBENCH_FAIL $name: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"PERFBENCH_CHECK_FAILED $name: $detail")
  }

  /** Time `body` against the noop sink: every row of every column is
    * computed and discarded executor-side. */
  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

/** A closed loop with one client: set up, then call `op` back to back
  * until the time is up and at least `minOps` calls were made, each call
  * waiting for the previous reply. */
trait Workload {
  def name: String
  /** How many times one run sets up; setup_s is their median. */
  def setUps: Int = 3
  /** Fewest calls one measured loop makes, however long they take, so a
    * run's latency quantiles always rest on the same number of samples. */
  def minOps: Int = 1
  def setUp(r: Run): Unit
  /** Untimed calls between the set-ups and the measured loop, so that the
    * loop starts on a warm JVM. */
  def warmUp(r: Run): Unit = ()
  def op(r: Run): Unit
  /** Keys of SparkEntry.queries this workload runs; each is checked
    * against its DuckDB oracle after the measurement. */
  def oracleKeys: Seq[String] = Nil
  def finish(r: Run): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opts("workload"))
    val work = new File(opts("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val upS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"perfbench: session up $upS%.3f s after JVM start")
    val r = new Run(spark, new File(opts("data")).getAbsolutePath, work,
      opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1")
    try {
      measure(r, workload)
      val c0 = System.nanoTime()
      checkOracles(r, workload)
      System.err.println(f"perfbench: oracle dumps ${(System.nanoTime() - c0) / 1e9}%.3f s")
    } finally {
      writeResult(r, workload, new File(work, "result.json"))
      spark.stop()
    }
  }

  private def measure(r: Run, w: Workload): Unit = {
    val setups = (1 to w.setUps).map { _ =>
      val t0 = System.nanoTime()
      w.setUp(r)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $secs%.3f s")
      secs
    }
    r.generic("setup_s") = Stats.median(setups)
    r.e2e("setup_s") = (Stats.median(setups), "s")
    val w0 = System.nanoTime()
    w.warmUp(r)
    System.err.println(f"perfbench: warm-up ${(System.nanoTime() - w0) / 1e9}%.3f s")
    // a traced run alternates untraced and traced calls, so both see the
    // same warm-up: tracing overhead = traced minus untraced call time
    val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
    val minCalls = if (r.traced) math.max(2, w.minOps) else w.minOps
    var ops = 0
    while (ops < minCalls || System.nanoTime() < deadline) {
      val traced = r.traced && ops % 2 == 1
      r.phase = if (traced) "traced" else "plain"
      if (traced) {
        r.counters.register(r.spark)
        r.tracer.enabled = true
      }
      val t0 = System.nanoTime()
      w.op(r)
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) {
        r.tracer.enabled = false
        r.counters.unregister(r.spark)
      }
      ops += 1
      r.rec("unit_ms", ms)
      System.err.println(f"perfbench: ${r.phase} op $ms%.1f ms")
    }
    if (r.traced) {
      val units = r.get("unit_ms", "traced").size.toDouble
      r.counters.snapshot.foreach { case (k, v) => r.layers(k) = v / units }
      r.layers("spark.peak_storage_bytes") = r.counters.peakStorage.get.toDouble
      val plain = Stats.median(r.get("unit_ms"))
      val traced = Stats.median(r.get("unit_ms", "traced"))
      r.layers("trace.unit_ms") = traced
      r.layers("trace.overhead_ms") = traced - plain
      r.layers("trace.overhead_pct") = 100.0 * (traced - plain) / plain
      r.tracer.selfNsByLayer.foreach { case (layer, ns) =>
        r.layers(s"self.$layer" + "_ms") = ns / 1e6 / units }
      r.tracer.writeJson(new File(r.work, "spans.json").toPath)
    }
    r.phase = "plain"
    val f0 = System.nanoTime()
    w.finish(r)
    System.err.println(f"perfbench: finish ${(System.nanoTime() - f0) / 1e9}%.3f s")
  }

  /** Where a declared key's result is dumped for its oracle check. */
  def oracleDump(r: Run, key: String): File = new File(r.work, s"check/oracle/$key")

  /** Dump each declared key's result outside the timed loop (unless its
    * set-up already did), next to its oracle SQL; perfbench/checks.py
    * replays the SQL in DuckDB over the same Parquet inputs and compares. */
  private def checkOracles(r: Run, w: Workload): Unit = {
    if (w.oracleKeys.isEmpty) return
    val out = new File(r.work, "check/oracle")
    out.mkdirs()
    // the approximate-artifact exports some oracles replay exist only
    // under this switch (as in graft.Verify); the timed loop ran without
    System.setProperty("graft.oracle.export", "1")
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    w.oracleKeys.filterNot(k => oracleDump(r, k).exists).foreach { k =>
      try dump(queries(k)(r.spark, r.data), oracleDump(r, k))
      catch { case NonFatal(e) => r.check(s"oracle_dump.$k", ok = false, e.toString) }
    }
    Files.writeString(new File(out, "oracle_sql.json").toPath,
      Json.obj(w.oracleKeys.flatMap(k => oracle.get(k).map(k -> Json.str(_)))))
    r.facts("oracle_dir") = Json.str(out.getPath)
  }

  def dump(df: org.apache.spark.sql.DataFrame, to: File): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(to.getPath)

  private def writeResult(r: Run, w: Workload, f: File): Unit = {
    val fields = Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failures.size.toString,
      "failures" -> Json.arr(r.failures.map(Json.str)),
      "e2e" -> Json.obj(r.e2e.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "generic" -> Json.obj(r.generic.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(r.layers.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(r.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d))) }),
      "facts" -> Json.obj(r.facts))
    Files.writeString(f.toPath, Json.obj(fields) + "\n")
  }
}
