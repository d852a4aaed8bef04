package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** A benchmark-side call into one layer: name, interval and the span that
  * was open when it started. Times are driver wall-clock milliseconds, the
  * clock Spark stamps its job events with. */
final case class Span(id: Int, parent: Int, depth: Int, layer: String,
    name: String, run: String, start: Long) {
  var end: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** A Spark job as the listener saw it. */
final case class JobRec(id: Int, start: Long, stages: Seq[Int]) {
  var end: Long = Long.MaxValue
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks, busyMs, shuffleWrite, spill, gcMs, input, output = 0L
}

/** Spans, job attribution and per-span totals for one traced run.
  *
  * The spans come from the benchmark wrapping each call it makes into a
  * layer's public functions; nothing inside the engine is instrumented.
  * The listener records every job with its submission and completion
  * times and sums task metrics per stage. After the run, each job is
  * credited to the innermost span open at its submission: with a single
  * client thread spans nest but never overlap, so the span interval alone
  * decides, including for jobs the engine launches from its own threads
  * (broadcasts, streaming micro-batches). Everything stays in memory until
  * [[report]]. */
class Tracer(run: String) extends SparkListener {
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageAgg = mutable.HashMap[Int, StageAgg]()
  private val stagesRun = mutable.HashSet[Int]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var open: List[Span] = Nil

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, e.stageIds)
    // a stage belongs to the first job that lists it: later jobs that
    // list the same stage reuse its shuffle output and skip it
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesRun += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.busyMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  /** Runs `body` inside a new span nested in the currently open one. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.fold(-1)(_.id), open.size,
      layer, name, run, System.currentTimeMillis())
    spans += s
    open = s :: open
    try body
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Sets a counter on the innermost open span. */
  def count(key: String, value: Double): Unit =
    open.headOption.foreach(_.counters(key) = value)

  /** The span a job is credited to: the innermost one open at its
    * submission, preferring spans that also cover its completion (two
    * sibling spans can share the boundary millisecond); -1 for none. */
  def owner(j: JobRec): Int = {
    val open = spans.filter(s => s.start <= j.start && j.start <= s.end)
    if (open.isEmpty) -1
    else {
      val whole = open.filter(s => j.end <= s.end)
      (if (whole.nonEmpty) whole else open).maxBy(s => (s.depth, s.start)).id
    }
  }

  /** Per-span totals, one map per span in opening order. `jobs` and the
    * task sums cover the span and its descendants; `direct_jobs` only the
    * span itself. Call after the listener bus has drained. */
  def report(): Seq[Map[String, Any]] = synchronized {
    val owners = jobs.map(j => j -> owner(j)).toSeq
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Set[Int] =
      Set(id) ++ children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def union(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long =
      ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, lo)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
    spans.toSeq.map { s =>
      val ids = subtree(s.id)
      val mine = owners.collect { case (j, o) if ids(o) => j }
      val aggs = mine.flatMap(j => j.stages
        .filter(st => stageJob.get(st).contains(j.id) && stagesRun(st))
        .flatMap(stageAgg.get))
      def sum(f: StageAgg => Long) = aggs.map(f).sum
      val wall = s.end - s.start
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val running = jobs.map(j => (j.start, math.min(j.end, s.end))).toSeq
      Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "depth" -> s.depth,
        "layer" -> s.layer, "name" -> s.name, "run" -> s.run,
        "start_ms" -> s.start, "end_ms" -> s.end, "wall_ms" -> wall,
        "self_ms" -> (wall - union(kids, s.start, s.end)),
        "driver_only_ms" -> (wall - union(running, s.start, s.end)),
        "direct_jobs" -> owners.count(_._2 == s.id),
        "jobs" -> mine.size,
        "stages" -> aggs.size,
        "tasks" -> sum(_.tasks), "task_busy_ms" -> sum(_.busyMs),
        "shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spill_bytes" -> sum(_.spill), "gc_ms" -> sum(_.gcMs),
        "input_bytes" -> sum(_.input), "output_bytes" -> sum(_.output),
        "counters" -> s.counters.toMap)
    }
  }
}

/** The benchmark's view of tracing: a no-op unless a [[Tracer]] is given.
  * In a traced run each lazy result is forced inside its call's span, so
  * the call's work lands there rather than in a later action. */
final class Trace(val tracer: Option[Tracer], sc: SparkContext) {
  /** Wraps one call into a layer; records the storage pinned after it. */
  def call[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(t => t.span(layer, name) {
      val r = body
      t.count("pinned_mb", Trace.pinnedMb(sc))
      r
    })

  /** A call returning a lazy frame, forced inside the call's span. */
  def lazyCall(layer: String, name: String)(body: => DataFrame): DataFrame =
    call(layer, name)(force(body))

  /** A call that writes under `root`; records the data files and bytes
    * it added there. */
  def writeCall[T](layer: String, name: String, root: String)(body: => T): T =
    tracer.fold(body) { t =>
      val (n0, b0) = Trace.dataFiles(root)
      call(layer, name) {
        val r = body
        val (n1, b1) = Trace.dataFiles(root)
        t.count("files_written", (n1 - n0).toDouble)
        t.count("output_mb", (b1 - b0) / 1e6)
        r
      }
    }

  /** In a traced run, computes every column and row of `df` in a child
    * span of the open call and records its row count there. It executes
    * the frame's own physical plan, so unlike count() no column is
    * pruned. */
  def force(df: DataFrame): DataFrame = {
    tracer.foreach { t =>
      t.span("force", "force") {
        t.count("rows", df.queryExecution.toRdd.count().toDouble)
      }
    }
    df
  }

  def count(key: String, value: => Double): Unit =
    tracer.foreach(_.count(key, value))
}

object Trace {
  /** Storage (memory + disk) held by cached or checkpointed blocks. */
  def pinnedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Shuffle-exchange and broadcast-nested-loop-join nodes in the
    * executed plan, looking inside adaptive query stages. */
  def planCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  /** Number and total bytes of the data files under `root`: hidden and
    * marker files (checksums, _SUCCESS, pointers) excluded. */
  def dataFiles(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val fs = s.filter(java.nio.file.Files.isRegularFile(_)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filterNot { f => val n = f.getFileName.toString
            n.startsWith(".") || n.startsWith("_") }
        (fs.length.toLong, fs.map(java.nio.file.Files.size(_)).sum)
      } finally s.close()
    }
  }
}
