package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Similarity}
import graft.queries.Q

/** Per-layer figures a traced run measures after its timed passes:
  * native kernels on fixed inputs, dedup pair counts, and builds and
  * probes of the persisted vector indexes.
  */
object Layers {

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Time of `kernel` over `input`, minus the time of `base` over the
    * same input (median of five runs each, after one untimed run).
    */
  private def kernelSeconds(input: DataFrame, base: Column, kernel: Column,
      agg: Boolean = false): Double = {
    def q(c: Column) = if (agg) input.agg(c.as("x")) else input.select(c.as("x"))
    noop(q(base)); noop(q(kernel))
    median((1 to 5).map(_ => noop(q(kernel)))) - median((1 to 5).map(_ => noop(q(base))))
  }

  /** `fixtures`: the sf0.1 fixture directory, input of the kernels that
    * do not read the workload's own tables. `probes`: query ids for the
    * vector-index layer, whose top-10 results go to `<out>/results`.
    */
  def after(workload: String, spark: SparkSession, dir: String, fixtures: String,
      probes: Seq[Long], indexDir: String, out: java.io.File,
      tracer: Tracer): Map[String, Double] = tracer.span("layers") {
    workload match {
      case "tpch_sql" =>
        val li = GraftSession.table(spark, fixtures, "lineitem")
        Map("functions.sum_unscaled_s" -> kernelSeconds(li,
          max(col("l_extendedprice")),
          Q.sumUnscaledDbl(Q.u2(col("l_extendedprice")), 2), agg = true))
      case "llm_pipeline" =>
        val docs = GraftSession.table(spark, dir, "documents")
        val text = col("text")
        val hs = Dedup.shingleHashes(text)
        val minhashCands = Dedup.candidatePairs(
          Dedup.bucketTable(docs, "doc_id", "text")).count().toDouble
        val minhashPairs = Dedup.minhashDupPairs(docs, "doc_id", "text").count().toDouble
        Map(
          "functions.text_stats_s" -> kernelSeconds(docs, length(text),
            call_function("text_stats", text)),
          "functions.shingle_hashes_s" -> kernelSeconds(docs, length(text), hs),
          "functions.minhash_signature_s" -> kernelSeconds(docs, size(hs),
            Dedup.minhashSignature(hs)),
          "functions.simhash_text_s" -> kernelSeconds(docs, length(text),
            call_function("simhash_text", text)),
          "dedup.minhash_candidates" -> minhashCands,
          "dedup.minhash_pairs" -> minhashPairs,
          "dedup.pairs_per_candidate" ->
            (if (minhashCands > 0) minhashPairs / minhashCands else 0.0),
          // every candidate passes a Hamming bound of 64
          "dedup.simhash_candidates" -> Dedup.simhashDupPairs(docs, "doc_id", "text",
            chunks = 4, maxHamming = 64).count().toDouble,
          "dedup.simhash_pairs" -> Dedup.simhashDupPairs(docs, "doc_id", "text",
            chunks = 4, maxHamming = 10).count().toDouble,
          "dedup.ngram_pairs" -> Dedup.ngramJaccardPairs(docs, "doc_id", "text")
            .count().toDouble) ++ vectorIndex(spark, fixtures, probes, indexDir, out, tracer)
    }
  }

  /** Builds the ANN, IVF and IVF-PQ indexes of the sf0.1 embeddings once
    * and probes each for every query id (the exactness-gated layouts of
    * q_sim_ann_persisted, q_sim_ivf_persisted and q_sim_ivfpq).
    */
  private def vectorIndex(spark: SparkSession, fixtures: String, probes: Seq[Long],
      indexDir: String, out: java.io.File, tracer: Tracer): Map[String, Double] = {
    val emb = GraftSession.table(spark, fixtures, "embeddings")
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val kinds = Seq("ann", "ivf", "ivfpq")
    val path = (k: String) => s"$indexDir/$k"
    val builds = kinds.map { k =>
      s"index.${k}_build_s" -> tracer.span(s"index.${k}_build")(secs(k match {
        case "ann" => Similarity.signAndWriteCorpus(emb, path(k), "vec_id", "embedding",
          m = 6, tables = 12)
        case "ivf" => Similarity.ivfWriteCorpus(emb, path(k), "vec_id", "embedding", k = 16)
        case "ivfpq" => Similarity.ivfPqWriteIndex(emb, path(k), "vec_id", "embedding",
          kCells = 16, m = 8, ksub = 16)
      }))
    }
    val probeTimes = kinds.map { k =>
      s"index.${k}_probe_s" -> median(probes.map { q =>
        var rows: Array[org.apache.spark.sql.Row] = null
        var df: DataFrame = null
        val t = tracer.span(s"index.${k}_probe")(secs {
          df = k match {
            case "ann" => Similarity.annTopKPersisted(spark, path(k), emb, "vec_id",
              "embedding", queryId = q, k = 10, m = 6, tables = 12)
            case "ivf" => Similarity.ivfTopKPersisted(spark, path(k), emb, "vec_id",
              "embedding", queryId = q, k = 10, nprobe = 6)
            case "ivfpq" => Similarity.ivfPqTopKPersisted(spark, path(k), emb, "vec_id",
              "embedding", queryId = q, k = 10, nprobe = 6, cands = 1024)
          }
          rows = df.collect()
        })
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(new java.io.File(out, s"results/probe_${k}_$q").getPath)
        t
      })
    }
    val files = kinds.flatMap(k => walk(new java.io.File(path(k))))
    val data = files.filter(f => f.getName.startsWith("part-"))
    val listing = (1 to 3).map(_ => secs(spark.read.parquet(path("ann"))))
    (builds ++ probeTimes).toMap ++ Map(
      "functions.cosine_s" -> kernelSeconds(emb, size(col("embedding")),
        Similarity.cosine(col("embedding"), col("embedding"))),
      "index.listing_s" -> median(listing),
      "index.partitions" -> files.count(d =>
        d.isDirectory && !d.listFiles().exists(_.isDirectory)).toDouble,
      "index.files_written" -> data.size.toDouble,
      "index.bytes_written" -> data.map(_.length).sum.toDouble)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    f +: Option(f.listFiles()).map(_.toSeq.sortBy(_.getName).flatMap(walk)).getOrElse(Nil)
}
