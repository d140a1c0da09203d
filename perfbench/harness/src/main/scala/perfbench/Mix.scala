package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{MemoLog, SessionDefaults, SparkEntry}
import graft.ops._
import graft.streaming.StreamOps

/** Closed-loop query mix: one client runs passes over a fixed list
  * of inventory queries through the public query builders, in a seeded
  * order, and writes every sample to a JSON result file.
  *
  * Usage: perfbench.Mix <dataDir> <outDir> <seed> <seconds> <trace 0|1>
  *        <query,query,...> <flagship samples per pass>
  *
  * A run is: set-up (the session is built; prints `READY`), one cold pass
  * in the list's order, warm passes until `seconds` have elapsed (at least
  * two; with tracing at least three, untraced and traced alternating), and
  * one untimed pass that writes each query's output to `outDir/out/<query>`
  * for the oracle check. Results go to `outDir/result.json`. */
object Mix {

  /** Query -> the ops module that declares it, from each module's keys.
    * Lazy: loading every ops module is work of the harness, done after
    * set-up is timed and before the cold pass starts. */
  lazy val moduleOf: Map[String, String] = Seq(
    "ScanFilterOps" -> ScanFilterOps.queries, "JoinOps" -> JoinOps.queries,
    "AggOps" -> AggOps.queries, "WindowOps" -> WindowOps.queries,
    "SortSetOps" -> SortSetOps.queries, "WarehouseOps" -> WarehouseOps.queries,
    "DedupOps" -> DedupOps.queries, "SimOps" -> SimOps.queries,
    "GraphOps" -> GraphOps.queries, "TextOps" -> TextOps.queries,
    "PipelineOps" -> PipelineOps.queries, "StreamOps" -> StreamOps.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** Warm passes in every run, however short `seconds` is. A traced run
    * has at least three (untraced, traced, untraced): the JIT is still
    * settling in the first warm passes, so the traced pass is compared
    * with untraced passes on both sides of it. */
  def minWarmPasses(trace: Boolean): Int = if (trace) 3 else 2

  /** Wall-clock milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's task and job times. */
  private val (epochMs0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** One traced interval; `parent` is the index of the enclosing span. */
  final case class Span(name: String, kind: String, parent: Int, start: Double,
                        end: Double, attrs: String = "")

  def session(cpus: String, outDir: String): SparkSession = {
    val spark = SessionDefaults.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.stream.teardown", "true")
    spark.conf.set("spark.graft.stream.ramScratch", "false")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, seedS, secondsS, traceS, queryList, flagS) = args
    val queries = queryList.split(",").toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val flagshipSamples = flagS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    Heap.install
    val spark = session(cpus, outDir)
    val probe = new Probe()
    spark.sparkContext.addSparkListener(probe)
    println("READY")
    System.out.flush()
    moduleOf

    val fns = SparkEntry.queries
    val rnd = new Random(seed)
    val spans = ArrayBuffer[Span]()
    val failures = ArrayBuffer[String]()
    var attempted = 0
    val memo = ArrayBuffer[String]()
    val stream = ArrayBuffer[String]()

    def span(kind: String, parent: Int)(body: => Unit): Unit = {
      val i = spans.size
      spans += Span(kind, kind, parent, nowMs, -1)
      try body
      finally spans(i) = spans(i).copy(end = nowMs)
    }

    def exchanges(p: SparkPlan): Int =
      new AdaptiveSparkPlanHelper {}.collectWithSubqueries(p) {
        case e: Exchange => e
      }.size

    /** Run one query to a noop sink. Traced runs split it into the
      * query-builder call, planning to `executedPlan`, and execution. */
    def runQuery(pass: Int, passSpan: Int, q: String, traced: Boolean): Unit = {
      val tag = s"$pass/$q"
      spark.sparkContext.setLocalProperty(Probe.TagKey, tag)
      attempted += 1
      var ex = -1
      val qi = spans.size
      spans += Span(q, "query", passSpan, nowMs, -1)
      try {
        if (traced) {
          var df: DataFrame = null
          MemoLog.setContext(s"$tag/build")
          span("build", qi) { df = fns(q)(spark, dataDir) }
          MemoLog.setContext(s"$tag/plan")
          span("plan", qi) { ex = exchanges(df.queryExecution.executedPlan) }
          MemoLog.setContext(s"$tag/execute")
          span("execute", qi) {
            df.write.format("noop").mode("overwrite").save()
          }
        } else {
          MemoLog.setContext(tag)
          fns(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
        }
      } catch {
        case e: Throwable =>
          failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(300)
      } finally {
        spans(qi) = spans(qi).copy(end = nowMs,
          attrs = s""""module": ${Json.str(moduleOf.getOrElse(q, "other"))}, """ +
            s""""exchanges": $ex""")
        MemoLog.drain().foreach { b =>
          memo += s"[$pass,${Json.str(b.tag)},${b.selfSec},${b.totalSec}," +
            s"${Json.str(b.by)}]"
        }
        StreamOps.takeStateMetrics().foreach { case (rows, bytes) =>
          stream += s"[$pass,${Json.str(q)},$rows,$bytes]"
        }
        spark.sparkContext.setLocalProperty(Probe.TagKey, null)
      }
    }

    def releaseCaches(): Unit = {
      DedupOps.clearPairsCache()
      GraphOps.clearMessageCache()
      SimOps.clearSimCaches()
      TextOps.clearBpeCache()
      JoinOps.clearHotKeyCache()
      StreamOps.clearStreamSinks()
      spark.catalog.clearCache()
    }

    /** One flagship sample, outside any pass span. */
    def flagship(i: Int): Unit = {
      val fi = spans.size
      spans += Span("q_scan_flagship", "flagship", -1, nowMs, -1)
      spark.sparkContext.setLocalProperty(Probe.TagKey, s"flagship/$i")
      attempted += 1
      try fns("q_scan_flagship")(spark, dataDir).write.format("noop")
        .mode("overwrite").save()
      catch { case e: Throwable =>
        failures += s"q_scan_flagship sample: ${e.getMessage}".take(300)
      }
      spans(fi) = spans(fi).copy(end = nowMs, attrs = s""""pass": $i""")
      spark.sparkContext.setLocalProperty(Probe.TagKey, null)
    }

    /** One pass over the mix: the cold pass in the list's order, warm
      * passes in a seeded order. The first queries of the cold pass pay
      * for the JVM's first run of shared code, so a seeded cold order would
      * move `cold_pass_s` from seed to seed by which queries come first.
      * Untraced warm passes take about `flagshipSamples` flagship samples
      * spread evenly between their queries, so the samples see the whole
      * pass. */
    def pass(i: Int, label: String, traced: Boolean): Unit = {
      releaseCaches()
      System.gc()
      val order = if (label == "cold") queries else rnd.shuffle(queries)
      val every = if (label == "warm" && !traced && flagshipSamples > 0)
        math.max(1, order.size / flagshipSamples) else Int.MaxValue
      val gc0 = Heap.gcSeconds
      val ps = spans.size
      spans += Span(label, "pass", -1, nowMs, -1)
      order.zipWithIndex.foreach { case (q, k) =>
        runQuery(i, ps, q, traced)
        if ((k + 1) % every == 0) flagship(i)
      }
      spans(ps) = spans(ps).copy(end = nowMs,
        attrs = s""""index": $i, "traced": $traced, "gc_s": ${Heap.gcSeconds - gc0}""")
    }

    pass(0, "cold", traced = false)
    val t0 = System.nanoTime()
    var i = 1
    while (i <= minWarmPasses(trace) || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(i, "warm", traced = trace && i % 2 == 0)
      i += 1
    }
    // before the correctness pass, which writes files the passes do not
    val peakLiveMb = Heap.peakLiveMb

    // Untimed correctness pass: each query's output, for the oracle. The
    // last pass's memo frames are kept, so it does not rebuild them.
    spark.sparkContext.setLocalProperty(Probe.TagKey, "check")
    MemoLog.setContext("check")
    queries.foreach { q =>
      try fns(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/out/$q")
      catch { case e: Throwable =>
        failures += s"$q (check): ${e.getMessage}".take(300)
      }
    }
    MemoLog.drain()
    StreamOps.clearStagedFixtures()
    val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q)
      .map(sql => s"${Json.str(q)}: ${Json.str(sql)}"))

    val res = new StringBuilder("{")
    res ++= s""""attempted": $attempted, """
    res ++= failures.map(Json.str).mkString("\"failures\": [", ",", "], ")
    res ++= s""""cores": $cpus, "peak_live_heap_mb": $peakLiveMb, """
    res ++= s""""peak_heap_mb": ${Heap.peakUsedMb}, """
    res ++= oracles.mkString("\"oracle\": {", ",", "}, ")
    res ++= memo.mkString("\"memo\": [", ",", "], ")
    res ++= stream.mkString("\"stream\": [", ",", "], ")
    res ++= spans.map { s =>
      s"[${Json.str(s.name)},${Json.str(s.kind)},${s.parent},${s.start}," +
        s"${s.end},{${s.attrs}}]"
    }.mkString("\"spans\": [", ",", "], ")
    res ++= s""""probe": ${probe.toJson}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/result.json"), res.toString)
    spark.stop()
  }
}
