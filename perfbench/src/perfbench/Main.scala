package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in this JVM: set up `--setups` times, run the cold
  * pass, then whole warm passes until `--seconds` have passed, and write
  * every call's record to `<run-dir>/result.json`. perfbench/run.py
  * builds the inputs, checks the outputs and derives the metrics.
  *
  * Args: --workload W --data DIR --run-dir DIR --seconds S --trace 0|1
  *       --setups K */
object Main {
  /** Read-only medallion queries: one action each, bound by the fixed
    * per-action cost (Catalyst, codegen, job scheduling, footer IO). */
  val medallionRead = Seq(
    "q07_anti_join", "q10_topk_orders",                       // Relational
    "q36_gold_courier_sla_breach", "q46_dm_inventory_status", // GoldQueries
    "q50_edw_dim_date",                                       // EdwQueries
    "q57_range_join", "q58_json_props",                       // TemporalQueries
    "q81_rank_family", "q91_quantile_sketch", "q96_listagg",  // AnalyticExtras
    "q30_pivot_events", "q31_config_exclusion",               // SqlSurface
    "q33_flatten_array",
    "q14_scd2_history", "q17_drop_duplicates",                // silver checks
    "q72_salted_agg")

  /** Training-data curation: dedup, near-duplicate ingest, ANN/IVF-PQ
    * index build and search, the streaming corpus pipeline. */
  val curation = Seq(
    "q18_exact_dedup", "q22_minhash_signatures", "q25_simhash_pairs",
    "q27_ann_topk", "q69_corpus_pipeline", "q77_dedup_clusters",
    "q82_neardup_ingest", "q111_semantic_dedup", "q170_pq_adc_search",
    "q180_ivfpq_search", "q186_ivfpq_ingest",
    "q216_streaming_corpus_pipeline")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (data, runDir) = (a("data"), a("run-dir"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val wl: Workload = a("workload") match {
      case "medallion_read" => new QueryOps(medallionRead, data, runDir)
      case "curation" => new QueryOps(curation, data, runDir)
      case "table_dml" => new TableDml(data, runDir, traced)
      case w => sys.error(s"unknown workload $w")
    }

    // set-up n starts at JVM start (n = 1) or once the previous session
    // has stopped, and ends when the session is ready and the inputs
    // are resolved
    var spark: SparkSession = null
    val setups = (1 to a("setups").toInt).map { n =>
      val t0 =
        if (n == 1) System.nanoTime() - 1000000L * (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime)
        else {
          spark.stop()
          SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
          System.nanoTime()
        }
      spark = GraftSession.getOrCreate("perfbench")
      val t1 = System.nanoTime()
      wl.prepare(spark, n)
      val t2 = System.nanoTime()
      Map("session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9)
    }
    val trace = if (traced) Some(new Trace(spark)) else None

    val records = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def exec(p: Int, c: Call): Unit = {
      val before = trace.map(_.snapshot())
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(c.run()) catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      val tr = for (t <- trace; b <- before) yield t.delta(b, t.snapshot(), w0, w1)
      val out = res.flatMap(r =>
        try Right(c.record(r)) catch { case e: Throwable => Left(e) })
      out.left.foreach { e =>
        System.err.println(s"[perfbench] ${c.name} failed: $e")
        e.printStackTrace()
      }
      records += Map("pass" -> p, "name" -> c.name, "dt" -> dt,
        "ok" -> out.isRight) ++ out.getOrElse(Map()) ++
        tr.map(m => Map("trace" -> m)).getOrElse(Map())
    }

    wl.pass(spark, 0).foreach(exec(0, _))

    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def jvm(): Map[String, Any] = Map(
      "cpu_s" -> cpu.getProcessCpuTime / 1e9,
      "jit_s" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1e3,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      "proc_stat" -> read("/proc/stat").linesIterator.next(),
      "self_stat" -> read("/proc/self/stat"),
      "loadavg" -> read("/proc/loadavg"))
    val warm0 = jvm()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 1
    var calls = wl.pass(spark, p)
    while (calls.nonEmpty && (p == 1 || elapsed < seconds)) {
      calls.foreach(exec(p, _))
      p += 1
      calls = if (elapsed < seconds) wl.pass(spark, p) else Nil
    }
    val warmWall = elapsed
    val warm1 = jvm()

    // Spark's ContextCleaner frees broadcasts and shuffles asynchronously
    // once a GC has found them unreachable: collect until that settles
    val heapMb = (1 to 4).map { _ =>
      System.gc(); Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val extra = wl.finish(spark)
    spark.stop()
    val result = Map("workload" -> a("workload"), "setups" -> setups,
      "records" -> records.toSeq, "warm" -> Map("wall_s" -> warmWall,
        "start" -> warm0, "end" -> warm1), "heap_live_mb" -> heapMb) ++ extra
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$runDir/result.json"), Json(result))
  }

  private def read(f: String): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(f))
    catch { case _: java.io.IOException => "" }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
