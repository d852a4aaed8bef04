package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Runs one workload in one JVM and writes its raw measurements as JSON:
  *
  *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed> <result.json>
  *
  * Set-up is the session build plus one untimed warm-up run, timed once
  * in the cold JVM, so it carries the class loading, JIT and codegen cost
  * of a first run. Then runs repeat, each from the input files to written
  * output, until `seconds` have passed and at least one ran.
  * With trace 1 a run with a [[Tracer]] installed follows, then one more
  * untraced run to compare it with. The
  * caller checks the outputs and turns the measurements into metrics. */
object Main {
  /** Micro-batches per streaming replay: enough to carry state across
    * batch boundaries, few enough that one replay fits a query_mix pass. */
  val ReplaySlices = 2

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Task slots: one core is left to the driver thread, which is on the
    * critical path of these fixed-cost-bound workloads, and to the JIT and
    * GC threads; on a 4-core host local[3] ran faster and steadier than
    * local[4]. */
  def cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors - 1))

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.replay.slices", ReplaySlices.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection, in MB. */
  private def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val Array(name, in, work, seconds, trace, seed, result) = args
    val wl = Workloads.byName(name)
    val params = json.readValue(Paths.get(in, "params.json").toFile,
      classOf[Map[String, Any]]) + ("seed" -> seed.toInt)
    def untraced(spark: SparkSession) = new Trace(None, spark.sparkContext)

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    wl.run(spark, in, s"$work/setup", untraced(spark), params, 0)
    val setupMs = (System.nanoTime() - t0) / 1e6

    def measure(i: Int, trace: Trace): Map[String, Any] = {
      val out = s"$work/run_$i"
      val heap0 = heapMb()
      val t0 = System.nanoTime()
      def go() = wl.run(spark, in, out, trace, params, i)
      val r = trace.tracer.fold(go())(_.span("run", name)(go()))
      val ms = (System.nanoTime() - t0) / 1e6
      val pinned = Trace.pinnedMb(spark.sparkContext)
      val checks = r.check()
      Map("run" -> i, "out" -> out, "ms" -> ms,
        "ops" -> (if (r.ops.isEmpty) Seq(Op("pipeline", ms, ok = true)) else r.ops),
        "stored_bytes" -> r.stored.map(p => Trace.dataFiles(p)._2).sum,
        "pinned_storage_mb" -> pinned,
        "retained_heap_mb" -> (heapMb() - heap0),
        "checks" -> checks)
    }

    val budgetNs = seconds.toLong * 1000000000L
    val start = System.nanoTime()
    val runs = Iterator.from(1)
      .takeWhile(i => i == 1 || System.nanoTime() - start < budgetNs)
      .map(i => measure(i, untraced(spark))).toList

    val traced = if (trace != "1") Map.empty[String, Any] else {
      val tracer = new Tracer("traced")
      spark.sparkContext.addSparkListener(tracer)
      val i = runs.size + 1
      val m = measure(i, new Trace(Some(tracer), spark.sparkContext))
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      // the JVM is still warming up run by run, so the overhead compares
      // the traced run with an untraced one right after it
      val after = measure(i + 1, untraced(spark))
      Map("run" -> m, "spans" -> tracer.report(), "after" -> after)
    }

    val oracles = if (name != "query_mix") Map.empty[String, String]
      else graft.SparkEntry.oracleSql.filter { case (q, _) => QueryMix.Queries.contains(q) }
    val out = Map("workload" -> name, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "setup_ms" -> setupMs, "session_ms" -> sessionMs, "runs" -> runs,
      "traced" -> traced, "oracle_sql" -> oracles)
    Files.write(Paths.get(result), json.writeValueAsBytes(out))
    stop(spark)
  }
}
