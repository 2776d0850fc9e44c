package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.{Models, Similarity}

/** Deployed-model persistence (the vector tier's merges.txt analog):
  * every literal model round-trips through a plain DataFrame + parquet
  * and reproduces downstream results exactly — the streaming consumers
  * are pure functions of the literals.
  */
class ModelsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("centroid literals round-trip through DataFrame + parquet") {
    val cents = Similarity.semDedupCentroids(emb, "vec_id", "embedding",
      dim = 64, nCells = 8, lloydIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("models_cent").toString
    Models.centroidsToDF(spark, cents).write.mode("overwrite")
      .parquet(s"$dir/cents.parquet")
    val back = Models.centroidsFromDF(spark.read.parquet(s"$dir/cents.parquet"))
    assert(back === cents, "centroid round-trip diverged")
    // corrupted relations fail loudly instead of deploying
    intercept[IllegalArgumentException] {
      Models.centroidsFromDF(
        Models.centroidsToDF(spark, cents)
          .unionByName(Models.centroidsToDF(spark, cents.take(1))))
    }
  }

  test("PQ codebook round-trips through DataFrame + parquet; an " +
      "incomplete grid is rejected") {
    val (cb, _) = Similarity.anchorCodebook(emb, "vec_id", "embedding",
      dim = 64, nSub = 8, codesPerSub = 16)
    val dir = java.nio.file.Files.createTempDirectory("models_cb").toString
    Models.codebookToDF(spark, cb, codesPerSub = 16).write.mode("overwrite")
      .parquet(s"$dir/cb.parquet")
    val (back, cps) = Models.codebookFromDF(
      spark.read.parquet(s"$dir/cb.parquet"))
    assert(cps === 16 && back === cb, "codebook round-trip diverged")
    intercept[IllegalArgumentException] {
      Models.codebookFromDF(
        Models.codebookToDF(spark, cb, 16).filter(col("code") =!= 3))
    }
  }

  test("a round-tripped model reproduces streaming results exactly " +
      "(the consumer is a pure function of the literals)") {
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      val cents = Similarity.semDedupCentroids(emb, "vec_id", "embedding",
        dim = 64, nCells = 8, lloydIters = 1)
      val dir = java.nio.file.Files.createTempDirectory("models_rt").toString
      Models.centroidsToDF(spark, cents).write.mode("overwrite")
        .parquet(s"$dir/c.parquet")
      val reloaded = Models.centroidsFromDF(spark.read.parquet(s"$dir/c.parquet"))
      def survivors(cs: Seq[(Long, Seq[Double])]): Set[Long] = {
        val log = streaming.Replay.replay(spark, emb, "vec_id", 200, "update")(
          sdf => streaming.SemDedupStream.semDedupStream(sdf, "vec_id",
            "embedding", dim = 64, eps = 0.3, centroids = cs))
        log.groupBy(col("vec_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("vec_id").as[Long].collect().toSet
      }
      assert(survivors(reloaded) === survivors(cents),
        "reloaded centroids changed the streaming survivor set")
    }
  }

  private val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("DSIR model persists: relation + params parquet round-trip " +
      "reproduces the weights; corrupted params rejected") {
    val m = llm.CorpusOps.dsirTrain(
      docs.filter(col("doc_id") % 10 === 0), "text", docs, "text")
    val dir = java.nio.file.Files.createTempDirectory("models_dsir").toString
    m.buckets.write.mode("overwrite").parquet(s"$dir/buckets.parquet")
    Models.dsirParamsToDF(spark, m).write.mode("overwrite")
      .parquet(s"$dir/params.parquet")
    val back = Models.dsirModelFromDFs(
      spark.read.parquet(s"$dir/buckets.parquet"),
      spark.read.parquet(s"$dir/params.parquet"))
    assert(back.totTgt === m.totTgt && back.totRaw === m.totRaw &&
      back.gramNs === m.gramNs && back.hexChars === m.hexChars &&
      back.md5Family === m.md5Family)
    val score = (mm: llm.CorpusOps.DsirModel) =>
      llm.CorpusOps.dsirWeights(docs.limit(100), "doc_id", "text", mm)
        .select(col("doc_id"), col("logw"))
        .as[(Long, Double)].collect().toMap
    assert(score(back) === score(m), "reloaded DSIR model changed weights")
    intercept[IllegalArgumentException] {
      Models.dsirModelFromDFs(m.buckets,
        Models.dsirParamsToDF(spark, m)
          .unionByName(Models.dsirParamsToDF(spark, m)))
    }
  }

  test("quality-classifier model persists and reproduces scores") {
    val m = llm.CorpusOps.qualityClfTrain(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text")
    val dir = java.nio.file.Files.createTempDirectory("models_clf").toString
    m.buckets.write.mode("overwrite").parquet(s"$dir/buckets.parquet")
    Models.qualityClfParamsToDF(spark, m).write.mode("overwrite")
      .parquet(s"$dir/params.parquet")
    val back = Models.qualityClfModelFromDFs(
      spark.read.parquet(s"$dir/buckets.parquet"),
      spark.read.parquet(s"$dir/params.parquet"))
    val score = (mm: llm.CorpusOps.QualityClfModel) =>
      llm.CorpusOps.qualityClfScore(docs.limit(100), "doc_id", "text", mm)
        .select(col("doc_id"), col("score"))
        .as[(Long, Double)].collect().toMap
    assert(score(back) === score(m), "reloaded classifier changed scores")
    intercept[IllegalArgumentException] {
      Models.qualityClfModelFromDFs(m.buckets,
        Models.qualityClfParamsToDF(spark, m).select(
          lit(-1L).as("tot_pos"), col("tot_neg"), col("n_pos_docs"),
          col("n_neg_docs"), col("alpha"), col("gram_ns"), col("hex_chars"),
          col("md5_family")))
    }
  }

  test("LM bigram model persists and reproduces perplexities") {
    val m = llm.CorpusOps.lmTrain(docs.filter(col("doc_id") % 10 === 0), "text")
    val dir = java.nio.file.Files.createTempDirectory("models_lm").toString
    m.uni.write.mode("overwrite").parquet(s"$dir/uni.parquet")
    m.bi.write.mode("overwrite").parquet(s"$dir/bi.parquet")
    Models.lmParamsToDF(spark, m).write.mode("overwrite")
      .parquet(s"$dir/params.parquet")
    val back = Models.lmModelFromDFs(
      spark.read.parquet(s"$dir/uni.parquet"),
      spark.read.parquet(s"$dir/bi.parquet"),
      spark.read.parquet(s"$dir/params.parquet"))
    assert(back.vocabSize === m.vocabSize && back.alpha === m.alpha)
    // the model's consumer is the streaming scorer (batch lmPerplexity
    // retrains internally): a reloaded model must reproduce its scores
    val score = (mm: llm.CorpusOps.LmBigramModel) =>
      streaming.Replay.replay(spark, docs.limit(100), "doc_id", 50, "update")(
        sdf => streaming.LmScoreStream.lmScoreStream(sdf, "text", "doc_id", mm))
        .collect().map(_.toSeq).toSet
    assert(score(back) === score(m), "reloaded LM changed streaming scores")
  }
}
