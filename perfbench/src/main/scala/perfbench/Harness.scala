package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.{Catalog, SparkEntry, Tables}
import graft.streaming.StreamingEventJoins

/** Engine side of the benchmark. It drives the engine only through its
  * public entry points — `Tables.session`, `StreamingEventJoins` Q1/Q2 and
  * `SparkEntry.queries` — over files made by `gen.py`, and writes
  * `result.json` (timings, outputs to check) and, when traced,
  * `spans.jsonl` into `--out`. `run.py` checks the outputs and prints the
  * metrics.
  *
  * Run: an untimed warm-up (batch: a pass whose outputs are the ones
  * checked, then two noop passes; streaming: Q1 and Q2 over the first
  * event-second alone), then whole passes filling `--seconds` (at least
  * one). A traced run makes an untraced pass and then fills `--seconds`
  * with pairs of a traced and an untraced pass instead, then makes one
  * pass on a single core. Every streaming pass after the warm-up is
  * checked.
  *
  *   Harness --workload attribution_uniform|batch_suite --data DIR --out DIR
  *           --seconds N --trace 0|1 --cores N
  *           (--queries q1,q2,... | --window-ms N --watermark-ms N)
  */
object Harness {

  final case class Pass(wallS: Double, opsMs: Seq[Double], events: Long,
      droppedByWatermark: Long, failed: Seq[String])

  private val streamSchema = StructType(Seq(StructField("key", StringType),
    StructField("value", StringType), StructField("ts", TimestampType)))

  /** The graft.functions kernels that the heavy row (q12) calls, each
    * applied alone to the documents table through a noop write.
    */
  val kernels: Seq[(String, String)] = Seq(
    "ngram_xxhash_sorted_set" -> "ngram_xxhash_sorted_set(lower(text), 3)",
    "sorted_long_jaccard" -> ("sorted_long_jaccard(ngram_xxhash_sorted_set(lower(text), 3), " +
      "ngram_xxhash_sorted_set(text, 3))"))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val queries = a.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val streaming = queries.isEmpty
    val joinWindow = a.get("window-ms").map(ms => s"$ms milliseconds").orNull
    val watermark = a.get("watermark-ms").map(ms => s"$ms milliseconds").orNull
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark = session(cores)
    var passNo = 0
    def pass(tracer: Option[Tracer], checkDir: Option[String] = None): Pass = {
      passNo += 1
      if (streaming) streamPass(spark, data, s"$out/pass$passNo", joinWindow, watermark, tracer)
      else batchPass(spark, data, queries, passNo, tracer, checkDir)
    }
    def warmupReplay(): Pass =
      streamPass(spark, s"$data/warmup", s"$out/warmup", joinWindow, watermark, None)
    // whole units (a pass, or a pair of passes): one, then more while
    // another is expected to end inside `seconds`
    def window[T](unit: () => T, wallS: T => Double): Seq[T] = {
      val t0 = System.nanoTime()
      val xs = mutable.ArrayBuffer(unit())
      while ((System.nanoTime() - t0) / 1e9 + wallS(xs.last) <= seconds) xs += unit()
      xs.toSeq
    }

    // batch rows keep speeding up over their first passes as the JIT
    // compiles the driver-side planning code: two more untimed passes
    val warm =
      if (streaming) Seq(warmupReplay())
      else Seq(pass(None, Some(s"$out/check")), pass(None), pass(None))
    if (!streaming) Files.writeString(Paths.get(s"$out/check/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }))
    val setupJvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "streaming" -> streaming,
      "setup_jvm_s" -> setupJvmS, "warmup" -> warm.map(passJson(_, 0)))

    if (!trace) {
      val timed = window(() => pass(None), (p: Pass) => p.wallS)
      res("passes") = timed.zipWithIndex.map { case (p, i) => passJson(p, i + 1) }
      res("peak_rss_mb") = peakRssMb()
    } else {
      // untraced and traced passes alternate, U T U (T U)..., and each
      // traced pass is compared with the mean of the untraced ones on
      // either side, so warming up and host drift cancel to first order;
      // the tracer listens to the traced passes only
      val tracer = new Tracer(spark)
      def tracedPass(): Pass = {
        tracer.attach()
        try pass(Some(tracer)) finally tracer.detach()
      }
      val first = pass(None)
      val units = window(() => (tracedPass(), pass(None)),
        (u: (Pass, Pass)) => u._1.wallS + u._2.wallS)
      val plain = first +: units.map(_._2)
      val traced = units.map(_._1)
      val m = layerMetrics(tracer, traced, cores)
      m("trace.overhead_pct") = (median(traced.indices.map(i =>
        traced(i).wallS / ((plain(i).wallS + plain(i + 1).wallS) / 2))) - 1) * 100
      kernels.foreach { case (k, _) => m(s"functions.${k}_s") = 0.0 }
      if (!streaming) kernelTimes(spark, data).foreach { case (k, s) => m(s"functions.${k}_s") = s }
      // single-core scaling: one pass on a local[1] session, same JVM,
      // over the untraced pass just before it, the nearest in warmth
      // (passes still get faster, so an earlier one would flatter local[1])
      spark.stop()
      spark = session(1)
      val one = pass(None)
      m("exec.scaling_vs_1core") = one.wallS / plain.last.wallS
      res("scaling_pass") = passJson(one, 0)
      res("layers") = m.toMap
      res("passes") = plain.zipWithIndex.map { case (p, i) => passJson(p, i + 1) }
      res("traced_passes") = traced.zipWithIndex.map { case (p, i) => passJson(p, i + 1) }
      val spansOut = tracer.spans.map(s => toJson(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))).mkString("\n")
      Files.writeString(Paths.get(s"$out/spans.jsonl"), spansOut + "\n")
    }
    spark.stop()
    Files.writeString(Paths.get(s"$out/result.json"), toJson(res))
  }

  def session(cores: Int): SparkSession = {
    val s = Tables.session("perfbench", cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- streaming

  /** One closed-loop replay: Q1 over the whole stream, then Q2, each on a
    * fresh checkpoint and file sink under `dir`. The operation times are
    * those of the steady micro-batches: not a query's first, which creates
    * the state stores and plans cold, and not its closing no-data batch.
    */
  def streamPass(spark: SparkSession, data: String, dir: String, joinWindow: String,
      watermark: String, tracer: Option[Tracer]): Pass = {
    def read(name: String): DataFrame = spark.readStream.schema(streamSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$data/$name")
    val t0 = System.nanoTime()
    val progress = Seq("q1" -> StreamingEventJoins.clickedDisplays _,
        "q2" -> StreamingEventJoins.missedDisplays _).flatMap { case (q, join) =>
      val df = join(read("displays"), read("clicks"), joinWindow, watermark)
      val query = df.writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/$q/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start(s"$dir/$q/out")
      query.awaitTermination()
      query.recentProgress.toSeq
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.batchSpans(Paths.get(dir).getFileName.toString))
    val steady = progress.filter(p => p.batchId > 0 && p.numInputRows > 0)
    Pass(wall, steady.map(p => p.durationMs.get("triggerExecution").toDouble),
      progress.map(_.numInputRows).sum,
      progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum, Nil)
  }

  // -------------------------------------------------------------------- batch

  /** One pass over the named rows. Each row is built and written to the
    * noop sink (or, for the checked warm-up pass, to parquet under
    * `checkDir`, as `graft.Verify` writes it); its pins are dropped with a
    * blocking unpersist outside its timed span, as `graft.Bench` does.
    */
  def batchPass(spark: SparkSession, data: String, queries: Seq[String], passNo: Int,
      tracer: Option[Tracer], checkDir: Option[String]): Pass = {
    val sc = spark.sparkContext
    val times = mutable.ArrayBuffer[Double]()
    val failed = mutable.ArrayBuffer[String]()
    queries.foreach { name =>
      val row = s"row:$passNo:$name"
      tracer.foreach(_.rowStart(row))
      val t0 = System.nanoTime()
      try {
        sc.setLocalProperty(Tracer.SpanKey, s"build:$row")
        val df = SparkEntry.queries(name)(spark, data)
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanKey, s"exec:$row")
        checkDir match {
          case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        times += (t2 - t0) / 1e6
        tracer.foreach { tr =>
          val pins = tr.rowEnd()
          tr.add("entry.build_s", (t1 - t0) / 1e9)
          tr.span(Span(row, s"pass:$passNo", "row", name, ms(t0), ms(t2), pins))
          tr.span(Span(s"build:$row", row, "build", name, ms(t0), ms(t1), Map.empty))
          tr.span(Span(s"exec:$row", row, "exec", name, ms(t1), ms(t2), Map.empty))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        failed += name
      } finally sc.setLocalProperty(Tracer.SpanKey, null)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    Pass(times.sum / 1e3, times.toSeq, 0L, 0L, failed.toSeq)
  }

  /** Seconds per kernel, applied alone to the documents table (second of
    * two runs, so the first pays code generation).
    */
  def kernelTimes(spark: SparkSession, data: String): Seq[(String, Double)] = {
    Catalog.registerFunctions(spark)
    Tables.documents(spark, data).createOrReplaceTempView("perfbench_documents")
    kernels.map { case (name, expr) =>
      val run = () => {
        val t0 = System.nanoTime()
        spark.sql(s"SELECT $expr AS k FROM perfbench_documents")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run()
      name -> run()
    }
  }

  // ---------------------------------------------------------------- layers

  /** Per-layer metrics of the traced window: counts, bytes and seconds
    * per pass; streaming phase times per micro-batch.
    */
  def layerMetrics(t: Tracer, passes: Seq[Pass], cores: Int): mutable.Map[String, Double] = {
    val n = passes.size.toDouble
    val c = t.counters
    val m = mutable.LinkedHashMap[String, Double]()
    val perPass = Seq("entry.build_s", "entry.eager_jobs", "plan.analysis_s",
      "plan.optimization_s", "plan.planning_s", "plan.aqe_updates", "exec.jobs",
      "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
      "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
      "pinning.rdds", "pinning.peak_mb", "pinning.live_after", "sources.input_rows",
      "sources.input_mb", "sink.rows", "sink.mb")
    perPass.foreach(k => m(k) = c(k) / n)
    m("exec.slot_idle_s") = (passes.map(_.wallS).sum * cores - c("exec.task_run_s")) / n
    m("exec.straggler_ratio") =
      if (c("straggler.weight") > 0) c("straggler.weighted") / c("straggler.weight") else 1.0
    val ps: Seq[StreamingQueryProgress] = t.progress.toSeq
    val nb = ps.size.max(1).toDouble
    def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / nb
    m("streaming.query_planning_ms") = phase("queryPlanning")
    m("streaming.add_batch_ms") = phase("addBatch")
    m("streaming.wal_commit_ms") = phase("walCommit")
    m("streaming.commit_offsets_ms") = phase("commitOffsets")
    m("sources.latest_offset_ms") = phase("latestOffset")
    m("sources.get_batch_ms") = phase("getBatch")
    val ops = ps.flatMap(_.stateOperators)
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    m("state.rows_total_peak") = (ops.map(_.numRowsTotal) :+ 0L).max.toDouble
    m("state.rows_updated") = ops.map(_.numRowsUpdated).sum / n
    m("state.rows_removed") = ops.map(_.numRowsRemoved).sum / n
    m("state.memory_mb") = (ops.map(_.memoryUsedBytes) :+ 0L).max / Tracer.MB
    m("state.commit_ms") = ops.map(_.commitTimeMs).sum / nb
    m("state.instances") = (ops.map(_.numStateStoreInstances.toLong) :+ 0L).max.toDouble
    m("state.get_ms") = custom("rocksdbGetLatency") / nb
    m("state.put_ms") = custom("rocksdbPutLatency") / nb
    m
  }

  // ---------------------------------------------------------------- helpers

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Epoch milliseconds of a `System.nanoTime` reading. */
  def ms(nanos: Long): Double = nanos / 1e6 + epochOffsetMs

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def passJson(p: Pass, i: Int): Map[String, Any] = Map("pass" -> i, "wall_s" -> p.wallS,
    "ops_ms" -> p.opsMs, "events" -> p.events,
    "dropped_by_watermark" -> p.droppedByWatermark, "failed" -> p.failed)

  def toJson(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }
}
