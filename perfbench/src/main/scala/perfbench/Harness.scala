package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchGlue
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.streaming.EventStreams

/** One benchmark run in a fresh JVM: set up a session (five times,
  * timed), run the workload's passes in a closed loop for the given
  * number of seconds, then export what the correctness check needs and
  * write the raw record (JSON) that `run.py` turns into metrics.
  *
  * The engine is driven only through its public calls:
  * `SparkEntry.queries`, `Tables.table`, `EventStreams.readEventStream`
  * and `EventStreams.upsertWindowCounts`.
  *
  * Usage: `Harness <workload> <tablesDir> <streamDir> <workDir> <seed>
  * <seconds> <trace 0|1> <cpus> <recordPath>`
  */
object Harness {

  val workloads: Map[String, Seq[String]] = Map(
    "llm_iterative" -> Seq(
      "dedup_components", "similarity_ann_append", "copurchase_pagerank"),
    "stream_upsert" -> Seq("drain"))

  private def now(): Double = System.nanoTime() / 1e9

  /** Host CPU jiffies (busy incl. steal) and this JVM's own jiffies. */
  private def cpuSample(): (Long, Long) = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    val n = (i: Int) => if (i < cpu.length) cpu(i).toLong else 0L
    val self = {
      val s = scala.io.Source.fromFile("/proc/self/stat").mkString
      val post = s.substring(s.lastIndexOf(')') + 2).split(" ")
      post(11).toLong + post(12).toLong
    }
    (n(1) + n(2) + n(3) + n(6) + n(7) + n(8), self)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def session(cpus: String, work: String): SparkSession =
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the codegen class cache sized as the engine's own Bench sizes it:
      // at Spark's default of 100 entries one llm_iterative pass evicts
      // its own classes, and which ones get recompiled depends on the
      // query order, moving a warm pass by up to a quarter
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, tablesDir, streamDir, work, seedS, secondsS, traceS, cpus, recordPath) = args
    val steps = workloads(workload)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"

    // set-up: build the session and run its first job, five times; the
    // first pays for class loading, so the median is a repeat set-up
    val setups = (1 to 5).map { i =>
      val t0 = now()
      val s = session(cpus, work)
      s.sparkContext.setLogLevel("ERROR")
      s.range(1).count()
      val dt = now() - t0
      if (i < 5) s.stop()
      dt
    }
    val spark = SparkSession.active

    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    // the last pass's outputs, checked after the timed window
    val collected = mutable.Map[String, (Array[Row], StructType)]()
    var lastDrain = ""

    def runStep(name: String, pass: Int, traced: Boolean): Map[String, Any] = {
      val gc0 = gcSeconds(); val cg0 = CodeGenerator.compileTime
      val m0 = System.currentTimeMillis()
      val t0 = now()
      var t1, t2 = t0
      var m1 = m0
      var extra = Map.empty[String, Any]
      val error =
        try {
          workload match {
            case "llm_iterative" =>
              val df = SparkEntry.queries(name)(spark, tablesDir)
              t1 = now(); m1 = System.currentTimeMillis()
              val rows = df.collect()
              t2 = now()
              collected(name) = (rows, df.schema)
            case "stream_upsert" =>
              val dir = s"$work/drain-$pass"
              val events = EventStreams.readEventStream(spark, streamDir)
              val writer = EventStreams.upsertWindowCounts(events, s"$dir/out", s"$dir/checkpoint")
              t1 = now(); m1 = System.currentTimeMillis()
              val q = writer.trigger(Trigger.AvailableNow()).start()
              q.awaitTermination()
              t2 = now()
              if (lastDrain.nonEmpty) rmrf(new File(lastDrain))
              lastDrain = dir
              extra = Map("batches" -> q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
                Map(
                  "rows" -> p.numInputRows,
                  "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
                  "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
                  "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
                  "dropped_late" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
              })
          }
          None
        } catch {
          case e: Throwable =>
            t2 = now()
            System.err.println(s"[perfbench] $name failed: $e")
            Some(e.toString)
        }
      val m2 = System.currentTimeMillis()
      val base = Map[String, Any](
        "name" -> name, "ok" -> error.isEmpty, "error" -> error.getOrElse(""),
        "wall_s" -> (t2 - t0), "construct_s" -> (t1 - t0), "write_s" -> (t2 - t1),
        "window_ms" -> Seq(m0, m1, m2)) ++ extra
      val traceFields =
        if (!traced) Map.empty[String, Any]
        else {
          PerfbenchGlue.drainListenerBus(spark.sparkContext)
          val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
          tracer.take() ++ Map(
            "gc_s" -> (gcSeconds() - gc0),
            "codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
            "cached_blocks_after" -> blocks)
        }
      spark.catalog.clearCache()
      base ++ traceFields
    }

    def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
      // timed direct table opens, kept out of the cold pass so it stays cold
      val tableOpen =
        if (!traced || pass == 0) 0.0
        else {
          val dir = if (workload == "stream_upsert") streamDir else tablesDir
          val names = new File(dir).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
          val t0 = now()
          names.foreach(t => Tables.table(spark, dir, t))
          now() - t0
        }
      tracer.on = traced
      // the cold pass keeps the listed order: which query runs first in a
      // fresh JVM moves the cold pass by ~15%, so only warm passes are
      // permuted by the seed
      val order = if (pass == 0) steps else new scala.util.Random(seed * 1009L + pass).shuffle(steps)
      val (b0, s0) = cpuSample()
      val t0 = now()
      val records = order.map(runStep(_, pass, traced))
      val wall = now() - t0
      val (b1, s1) = cpuSample()
      tracer.on = false
      System.err.println(f"[perfbench] $workload pass $pass ${if (traced) "traced" else "untraced"} $wall%.2f s")
      Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "foreign_cpu_s" -> math.max(0L, (b1 - b0) - (s1 - s0)) / 100.0,
        "table_open_s" -> tableOpen, "steps" -> records)
    }

    // closed loop: the next pass starts when the previous one returns.
    // The warm metrics take the three passes after the cold one (see
    // metrics.steady), so at least that many run. A traced run traces
    // the cold pass, leaves the first warm pass untraced (the JVM is
    // still warming up fast), then traces in the order traced,
    // untraced, untraced, traced (repeating, at least six passes), so
    // the tracing overhead is measured in the same JVM without the
    // warm-up trend favouring either side
    val minPasses = if (trace) 6 else 4
    val start = now()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    while (passes.size < minPasses || now() - start < seconds) {
      val p = passes.size
      passes += runPass(p, trace && (p == 0 || (p >= 2 && Set(0, 3)((p - 2) % 4))))
    }

    // outside the timed window: materialise the last pass's outputs as
    // parquet for the oracle comparison; one that cannot be exported is
    // left out, and run.py counts it as failed
    val checks = mutable.Map[String, String]()
    def export(name: String)(df: => DataFrame): Unit =
      try {
        df.write.mode("overwrite").parquet(s"$work/check/$name")
        checks(name) = s"$work/check/$name"
      } catch {
        case e: Throwable => System.err.println(s"[perfbench] exporting $name failed: $e")
      }
    workload match {
      case "llm_iterative" =>
        for ((name, (rows, schema)) <- collected)
          export(name)(spark.createDataFrame(rows.toSeq.asJava, schema))
      case "stream_upsert" =>
        export("stream_window_counts")(SparkEntry.queries("stream_window_counts")(spark, streamDir))
        if (lastDrain.nonEmpty) checks("drained") = s"$lastDrain/out"
    }
    val oracle = checks.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus.toInt,
      "setup_s" -> setups, "passes" -> passes.toList,
      "rss_peak_mb" -> rssPeakMb(), "checks" -> checks.toMap, "oracle_sql" -> oracle)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(recordPath), record)
    spark.stop()
    System.exit(0)
  }
}
