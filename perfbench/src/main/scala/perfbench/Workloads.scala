package perfbench

import graft.SparkEntry
import graft.ingest.GsodParser
import graft.ml.MlPipeline
import graft.ops.{Dedup, Similarity, Text}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: a pipeline run, a query or a probe. `ok` is false
  * when the engine threw; output checks happen after the run. */
final case class Op(name: String, ms: Double, ok: Boolean,
    detail: Map[String, Any] = Map.empty)

/** What one run of a workload hands back: its timed operations (empty
  * for a pipeline, which is timed as a whole), the paths whose bytes count
  * as stored output, and an untimed check to run after the clock stops. */
final case class RunResult(ops: Seq[Op], stored: Seq[String],
    check: () => Map[String, Any] = () => Map.empty)

/** A workload: one run reads its inputs from `in`, writes its outputs
  * under `out` (fresh for every run) and calls each layer through `tr`. */
trait Workload {
  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult
}

object Workloads {
  val byName: Map[String, Workload] = Map(
    "gsod_etl_gbt" -> GsodEtlGbt, "corpus_dedup" -> CorpusDedup,
    "ann_index" -> AnnIndex, "rag_prep" -> RagPrep, "query_mix" -> QueryMix)
}

/** The reference lifecycle: GSOD year archives → cleaned observations →
  * monthly medians joined to active stations → parquet → GBT → RMSE. */
object GsodEtlGbt extends Workload {
  val Features = Seq("temp", "dewp", "wdsp", "max", "min")
  val Label = "prcp"
  val GbtRounds = 3

  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult = {
    val minYear = params("min_year").asInstanceOf[Int]
    val maxYear = params("max_year").asInstanceOf[Int]
    val obs = tr.lazyCall("ingest", "GsodParser.parseTar")(
      GsodParser.parseTar(spark, s"$in/gsod/*.tar"))
    val stations = tr.lazyCall("ingest", "GsodParser.stations")(
      GsodParser.stations(spark, s"$in/isd-history.csv", minYear, maxYear))
    val monthly = tr.lazyCall("ingest", "GsodParser.etl")(
      GsodParser.etl(obs, stations))
    tr.writeCall("sources", "Sinks.writeParquet", out)(
      Sinks.writeParquet(monthly, s"$out/monthly"))
    val table = spark.read.parquet(s"$out/monthly").na.drop(Features :+ Label)
    val feats = tr.lazyCall("ml", "MlPipeline.assemble")(
      MlPipeline.assemble(table, Features))
    val (train, test) = tr.call("ml", "MlPipeline.seededSplit") {
      val (a, b) = MlPipeline.seededSplit(feats)
      (tr.force(a), tr.force(b))
    }
    val model = tr.call("ml", "MlPipeline.trainGbt")(
      MlPipeline.trainGbt(train, Label, GbtRounds))
    val rmse = tr.call("ml", "MlPipeline.rmse")(
      MlPipeline.rmse(model.transform(test), Label))
    RunResult(Nil, Seq(s"$out/monthly"), () => {
      // the constant predictor: the training mean, scored on the test rows
      val mean = train.agg(avg(col(Label))).head().getDouble(0)
      val ys = test.select(col(Label)).collect().map(_.getDouble(0))
      val base = math.sqrt(ys.map(y => (y - mean) * (y - mean)).sum / ys.length)
      Map("rmse" -> rmse, "baseline_rmse" -> base, "test_rows" -> ys.length)
    })
  }
}

/** LLM-corpus near-duplicate removal: exact dedup, MinHash-LSH candidate
  * pairs, connected components, one survivor per cluster. */
object CorpusDedup extends Workload {
  val SigWidth = 64
  val BandRows = 4
  val Threshold = 0.7

  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult = {
    val docs = spark.read.parquet(s"$in/corpus.parquet")
    val exact = tr.lazyCall("ops.dedup", "Dedup.exact")(
      Dedup.exact(docs, col("text"), col("doc_id")))
    val shingled = tr.call("functions", "Text.tokens/shingles") {
      val sh = exact.select(col("doc_id"),
        Text.shingles(Text.tokens(col("text")), 3).as("sh"))
      tr.force(sh.withColumn("sig", Dedup.minhashSignature(col("sh"), SigWidth)))
      sh
    }
    val pairs = tr.lazyCall("ops.dedup", "Dedup.minhashNearDups")(
      Dedup.minhashNearDups(shingled, "doc_id", "sh", SigWidth, BandRows, Threshold))
    val comps = tr.lazyCall("ops.dedup", "Dedup.components")(
      Dedup.components(pairs, "id_a", "id_b"))
    val dropped = comps.filter(col("id") =!= col("rep")).select(col("id").as("doc_id"))
    val survivors = exact.join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
    tr.writeCall("sources", "Sinks.writeParquet", out)(
      Sinks.writeParquet(survivors, s"$out/survivors"))
    RunResult(Nil, Seq(s"$out/survivors"))
  }
}

/** A RAG index built, grown, compacted and served from one storage
  * layout: IVF + PQ training on the first batch, append batches, a
  * compaction, then a closed loop of single-client probes. */
object AnnIndex extends Workload {
  val Cells = 16
  val Subspaces = 8
  val Codewords = 64
  val NProbe = 4
  val Shortlist = 100
  val Parts = Seq("cluster")

  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult = {
    val batches = params("batches").asInstanceOf[Int]
    val k = params("k").asInstanceOf[Int]
    val probes = params("probes").asInstanceOf[Seq[Seq[Any]]]
      .map(_.map(_.asInstanceOf[Number].doubleValue))
    def batch(b: Int) = spark.read.parquet(s"$in/vectors/batch_$b.parquet")
    val dir = s"$out/index"
    val t0 = System.nanoTime()
    val first = batch(0)
    val (assigned, centroids) = tr.call("ops.similarity", "Similarity.ivfAssign") {
      val (a, c) = Similarity.ivfAssign(spark, first, Cells)
      (tr.force(a), c)
    }
    val codebooks = tr.call("ops.similarity", "Similarity.pqTrain")(
      Similarity.pqTrain(spark, first, Subspaces, Codewords))
    val encoded = tr.lazyCall("ops.similarity", "Similarity.pqEncode")(
      Similarity.pqEncode(spark, assigned, codebooks))
    tr.writeCall("sources", "Similarity.saveCentroids", out)(
      Similarity.saveCentroids(spark, dir, centroids))
    tr.writeCall("sources", "Similarity.saveCodebooks", out)(
      Similarity.saveCodebooks(spark, dir, codebooks))
    tr.writeCall("sources", "Similarity.saveCodes", out)(
      Similarity.saveCodes(encoded, dir, Parts))
    for (b <- 1 until batches) {
      val a = tr.lazyCall("ops.similarity", "Similarity.ivfAssignWith")(
        Similarity.ivfAssignWith(spark, batch(b), centroids))
      val e = tr.lazyCall("ops.similarity", "Similarity.pqEncode")(
        Similarity.pqEncode(spark, a, codebooks))
      tr.writeCall("sources", "Similarity.appendCodes", out)(
        Similarity.appendCodes(e, dir, Parts))
    }
    tr.writeCall("sources", "Similarity.compactCodes", out) {
      tr.count("files_live_before", Similarity.codesFileCount(spark, dir).toDouble)
      Similarity.compactCodes(spark, dir, Parts)
      tr.count("files_live_after", Similarity.codesFileCount(spark, dir).toDouble)
    }
    val served = tr.lazyCall("sources", "Similarity.loadCodes")(
      Similarity.loadCodes(spark, dir))
    val cents = tr.call("sources", "Similarity.loadCentroids")(
      Similarity.loadCentroids(spark, dir))
    val books = tr.call("sources", "Similarity.loadCodebooks")(
      Similarity.loadCodebooks(spark, dir))
    val build = Op("index_build", (System.nanoTime() - t0) / 1e6, ok = true)
    val probeOps = probes.zipWithIndex.map { case (p, i) =>
      val p0 = System.nanoTime()
      val ids = tr.call("ops.similarity", "Similarity.ivfPqTopK") {
        val df = Similarity.ivfPqTopK(served, cents, books, "vec_id", p, k,
          NProbe, Shortlist)
        tr.call("ops.similarity", "Similarity.ivfPqTopK:collect")(
          df.select("vec_id").collect().map(_.getLong(0)).toSeq)
      }
      Op(s"probe_$i", (System.nanoTime() - p0) / 1e6, ok = true,
        Map("ids" -> ids))
    }
    val live = Similarity.resolveCodesPath(spark, dir).toString
    RunResult(build +: probeOps,
      Seq(s"$dir/centroids.parquet", s"$dir/codebooks.parquet",
        s"$dir/codebooks_manifest.parquet", live),
      () => {
        // the compacted, served codes must equal a one-shot encode of
        // every batch against the same quantizers
        val all = (0 until batches).map(batch).reduce(_ union _)
        val want = codeRows(Similarity.pqEncode(spark,
          Similarity.ivfAssignWith(spark, all, centroids), codebooks))
        val got = codeRows(spark.read.parquet(live))
        Map("codes_rows" -> got.size, "codes_missing" -> (want -- got).size,
          "codes_extra" -> (got -- want).size)
      })
  }

  private def codeRows(df: DataFrame): Set[(Long, Int, Seq[Int])] =
    df.select("vec_id", "cluster", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
}

/** Retrieval-corpus preparation: [[CorpusDedup]] then [[AnnIndex]] in
  * one run, over the inputs of both. The dedup pipeline is one operation;
  * the index build and each probe are the others. */
object RagPrep extends Workload {
  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult = {
    val t0 = System.nanoTime()
    val dedup = CorpusDedup.run(spark, in, out, tr, params, pass)
    val ms = (System.nanoTime() - t0) / 1e6
    val index = AnnIndex.run(spark, in, out, tr, params, pass)
    RunResult(Op("dedup", ms, ok = true) +: index.ops,
      dedup.stored ++ index.stored, index.check)
  }
}

/** An analyst's session: a fixed list of registered queries run one at a
  * time in a seeded order, each result written in full. */
object QueryMix extends Workload {
  /** Three consumers of ops.Ranks' build-time cutpoint jobs, one
    * streaming replay (the streaming layer) and two single-pass relational
    * controls that such build jobs do not touch. The list is cut to what
    * fits the benchmark's time budget: the graph, clustering and
    * multimodal queries pass the same checks but would double a pass. */
  val Queries = Seq(
    "q_tokenize_ids", "q_vocab_build", "q_wilcoxon", "q_stream_tumbling",
    "q_topk", "q_corr")

  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000 + pass).shuffle(Queries)

  def run(spark: SparkSession, in: String, out: String, tr: Trace,
      params: Map[String, Any], pass: Int): RunResult = {
    val seed = params("seed").asInstanceOf[Int].toLong
    val ops = order(seed, pass).map { q =>
      val t0 = System.nanoTime()
      try {
        tr.call("queries", q) {
          val df = tr.call("queries", s"$q:build")(SparkEntry.queries(q)(spark, in))
          if (tr.tracer.nonEmpty) {
            val (exchanges, bnlj) = Trace.planCounts(df)
            tr.count("exchanges", exchanges)
            tr.count("bnlj", bnlj)
          }
          tr.call("queries", s"$q:action")(
            df.write.mode("overwrite").parquet(s"$out/$q"))
        }
        Op(q, (System.nanoTime() - t0) / 1e6, ok = true,
          Map("out" -> s"$out/$q"))
      } catch {
        case e: Exception =>
          Op(q, (System.nanoTime() - t0) / 1e6, ok = false,
            Map("error" -> String.valueOf(e.getMessage).take(300)))
      }
    }
    RunResult(ops, Seq(out))
  }
}
