package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Similarity, TextAnalysis}

/** `corpus_pipeline`: graft's training-data operators as a six-stage
  * pipeline over a generated corpus. Each stage reads the previous
  * stage's parquet and writes its own, as a production pipeline
  * persists stage boundaries; the stage's time is that read-transform-
  * write action. Dominated by text kernels, shuffles and data volume;
  * the admin, wire and stream layers are idle.
  *
  * Set-up (repeated): a new session plus one pipeline pass over the
  * small warm-up corpus. Timed load: whole passes over the full corpus
  * until the window is spent (at least one).
  */
object CorpusPipeline {
  val stages: Seq[String] =
    Seq("quality", "decontaminate", "exact_dedup", "near_dedup", "sample", "semantic_dedup")

  def run(ctx: Ctx): Map[String, Any] = {
    def pass(spark: SparkSession, input: String, out: String, tag: String,
             counted: Boolean): Seq[(String, String)] = {
      val bench = spark.read.parquet(s"$input/benchmark.parquet")
      val emb = spark.read.parquet(s"$input/embeddings.parquet")
      val docs = spark.read.parquet(s"$input/corpus.parquet")
      // ids of the documents still in the pipeline when the stage starts
      def ids(df: DataFrame) = df.select(col("doc_id").as("vec_id"))
      val transforms: Seq[DataFrame => DataFrame] = Seq(
        in => TextAnalysis.qualityScore(in, "text")
          .filter(col("quality_score") >= ctx.dbl("quality_threshold")).select(in.columns.map(col): _*),
        in => in.join(TextAnalysis.flagContaminated(in, "doc_id", "text", bench)
          .filter(!col("contaminated")).select("doc_id"), "doc_id"),
        in => Dedup.dedupedCorpus(in, "doc_id", "text"),
        in => Dedup.nearDedupKeep(in, "doc_id", "text", collapseExact = false),
        in => Sampling.temperatureSample(in, "doc_id", "source", ctx.int("sample_budget").toLong),
        in => {
          val vecs = emb.join(ids(in), "vec_id")
          val n = vecs.count()
          val k = math.max(8, math.ceil(n / ctx.dbl("semantic_cell_target")).toInt)
          val cents = Similarity.exactIvfCentroids(vecs, "vec_id", "embedding", k = k, iters = 2,
            hexBound = Similarity.ivfHexBound(n))
          Similarity.semanticDedup(vecs, "vec_id", "embedding", cents, ctx.dbl("semantic_threshold"))
            .filter(col("kept")).select(col("vec_id").as("doc_id"))
            .join(in, "doc_id")
        })
      var prev = s"$input/corpus.parquet"
      stages.zip(transforms).map { case (name, f) =>
        val path = s"$out/$name"
        val from = prev
        ctx.op(spark, name, s"$tag:$name", counted) {
          f(spark.read.parquet(from)).write.parquet(path)
        }
        prev = path
        name -> path
      }
    }

    val spark = ctx.repeatSetup(ctx.int("setups")) { i =>
      val s = ctx.newSession()
      pass(s, ctx.str("warm"), ctx.dir(s"setup$i").toString, "setup", counted = false)
      s
    }(ctx.stopSession)
    ctx.ready(spark)

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val p = passes.size + 1
      val start = System.nanoTime()
      val outs = pass(spark, ctx.str("corpus"), ctx.dir(s"pass$p").toString, s"stage:$p", counted = true)
      passes += Map("start" -> start, "end" -> System.nanoTime(), "outputs" -> outs.toMap)
    }
    // rows each stage kept, read from parquet footers after the window
    val rows = passes.map { p =>
      p("outputs").asInstanceOf[Map[String, String]].map { case (st, path) =>
        st -> scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L)
      }
    }
    val input = spark.read.parquet(s"${ctx.str("corpus")}/corpus.parquet").count()
    ctx.stopSession(spark)
    Map("passes" -> passes.toSeq, "stage_rows" -> rows.toSeq, "input_docs" -> input)
  }
}
